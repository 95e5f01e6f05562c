"""Benchmark of the paper's CDC pipeline, end to end and layer by layer.

    python3 cdcbench/run.py --workload poll_ticks --seed 1 --seconds 16 --trace 0

The chain runs in the order of the paper's deployment: RestBus ticks through
`sources.http_poller.poll_to_spool` (or connector envelopes) into a JSONL
spool, `sources.files.stream_envelope_jsonl`, `streaming.pipeline.
run_cdc_pipeline` (parse and route through `cdc.envelope`, one spool file per
micro-batch, `availableNow`), a commit into `cdc.upsert.UpsertTable` or
`cdc.manifest_table.ManifestUpsertTable`, then the dashboard query set over
the committed table. Every answer is checked against a computation made apart
from Spark (check.py).

The last stdout line is one JSON object: `correct`, `attempted` and `failed`
(operations are micro-batches and query executions) and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
Everything else goes to stderr. A traced run also writes its spans to
`cdcbench/out/`. See README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from datetime import datetime


def _process_start() -> float:
    """Epoch seconds at which this process started (setup_s counts from it)."""
    with open("/proc/self/stat", encoding="utf-8") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="utf-8") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import inputs  # noqa: E402
import queries  # noqa: E402
from tracing import (  # noqa: E402
    EVENT_LOG_CONF,
    EventLog,
    NullTracer,
    TracedCommitter,
    TracedTable,
    Tracer,
    peak_rss_mb,
)

from pyspark.errors import AnalysisException  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from buskafkasparkstreaming_spark import get_spark  # noqa: E402
from buskafkasparkstreaming_spark.cdc.envelope import parse_envelopes, route_ops  # noqa: E402
from buskafkasparkstreaming_spark.cdc.manifest_table import ManifestUpsertTable  # noqa: E402
from buskafkasparkstreaming_spark.cdc.upsert import UpsertTable  # noqa: E402
from buskafkasparkstreaming_spark.sources.files import (  # noqa: E402
    read_envelope_jsonl,
    stream_envelope_jsonl,
)
from buskafkasparkstreaming_spark.streaming.pipeline import run_cdc_pipeline  # noqa: E402

#: Spark task threads: fewer than the 4 vCPUs, leaving room for the driver,
#: GC and JIT threads (local[4] drains were far less repeatable)
THREADS = 2
DRIVER_MEMORY = "2g"

#: work per run, sized so the measured part lasts about --seconds on a
#: 4-vCPU box; a run always does whole units of it. Every batch of this
#: pipeline costs seconds whatever its size, so the metrics are medians and
#: totals over as many small batches as a run can afford.
ROUTES = 12
POLL_VEHICLES, POLL_TICKS_PER_S = 200, 0.75
BULK_VEHICLES, BULK_SLOTS, BULK_FILES_PER_S, BULK_LINES_PER_FILE = 200, 30, 0.32, 2_000
#: the dashboard refreshes this often after the drain; one ~2 s execution
#: alone spread by 20% of its median between seeds
QUERY_SETS = 2
CORRUPT_PER_FILE = 5
WARM_UP_FILES = 2
POINT_KEYS = 64

END_TO_END = {
    "setup_s": "s",
    "ingest_rows_per_s": "rows/s",
    "batch_p50_s": "s",
    "query_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "poller.publish_s": "s",
    "source.rows_read_per_line": "rows/line",
    "source.offset_ms": "ms",
    "pipeline.start_s": "s",
    "pipeline.planning_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.route_quarantine_ms": "ms",
    "pipeline.batch_tail_s": "s",
    "envelope.parse_rows_per_s": "rows/s",
    "merge.ms": "ms",
    "merge.jobs": "count",
    "merge.tasks": "count",
    "merge.rows_written_per_input_row": "rows/row",
    "merge.shuffle_bytes_per_input_row": "B/row",
    "commit.ms": "ms",
    "table.files": "count",
    "table.bytes": "B",
    "manifest.objects_skipped": "count",
    **{f"query.{n}_ms": "ms" for n in queries.NAMES},
    "query.files_read": "count",
    "query.rows_scanned": "count",
    **{
        f"spark.{phase}.{m}": unit
        for phase in ("ingest", "query")
        for m, unit in (
            ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"),
            ("executor_cpu_s", "s"), ("shuffle_write_bytes", "B"),
            ("spill_bytes", "B"), ("driver_only_s", "s"),
        )
    },
}


class Run:
    """One benchmark run: its session, inputs, table and measurements."""

    def __init__(self, args, tmp: str) -> None:
        self.workload = args.workload
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tmp = tmp
        self.rng = random.Random(f"{args.workload}:{args.seed}")
        self.tracer = Tracer() if self.traced else NullTracer()
        self.batches: list[dict] = []  # progress of every measured batch
        self.drains: list[dict] = []  # per measured drain: window, progress
        self.query_windows: list[tuple[float, float]] = []
        self.query_secs: dict[str, list[float]] = {n: [] for n in queries.NAMES}
        self.answers: list[dict] = []  # per query-set execution
        self.checks: list[str] = []
        self.manifest = args.workload != "poll_ticks"

    # -- session and tables --------------------------------------------------
    def start_session(self, threads: int) -> None:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self._dir("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self._dir('jvm-tmp')} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        # wins over spark.local.dir, so set it even if the caller had one
        os.environ["SPARK_LOCAL_DIRS"] = self._dir("spark-local")
        if self.traced:
            conf |= {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + self._dir("eventlog")}
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name=f"cdcbench-{self.workload}",
                master=f"local[{threads}]",
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark, then end the JVM and wait for it: the JVM exits when
        its stdin closes, which otherwise happens only as this process exits."""
        if getattr(self, "spark", None) is None:
            return
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def _dir(self, name: str) -> str:
        path = os.path.join(self.tmp, name)
        os.makedirs(path, exist_ok=True)
        return path

    def new_table(self, name: str):
        path = os.path.join(self.tmp, name)
        if self.manifest:
            return ManifestUpsertTable(
                self.spark, path, key_cols="record_id", precombine_col="event_time",
                partition_col="routeId", stats_cols=["event_time"], bloom_col="record_id",
            )
        table = UpsertTable(
            self.spark, path, key_cols="record_id", precombine_col="event_time",
            partition_col="routeId",
        )
        if self.traced:
            table.committer = TracedCommitter(table.committer, self.tracer)
        return table

    # -- the measured operations ---------------------------------------------
    def drain(self, spool: inputs.Spool, table, name: str, measured: bool = True) -> None:
        """Drain the spool's pending files, one file per micro-batch, with
        an availableNow run that resumes from the table's checkpoint."""
        sink = TracedTable(table, self.tracer) if self.traced else table
        t0 = time.time()
        with self.tracer.span("pipeline.drain"):
            q = run_cdc_pipeline(
                stream_envelope_jsonl(self.spark, spool.path, max_files_per_trigger=1),
                sink,
                checkpoint_dir=os.path.join(self.tmp, f"{name}.ckpt"),
                quarantine_path=os.path.join(self.tmp, f"{name}.quarantine"),
                available_now=True,
                query_name=f"cdcbench_{name}",
            )
            q.awaitTermination()
        t1 = time.time()
        if q.exception() is not None:
            raise RuntimeError(f"drain of {name} failed: {q.exception()}")
        progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
        log(
            f"drain {name}: {t1 - t0:.2f} s, batches (ms): "
            + " ".join(str(p["durationMs"]["triggerExecution"]) for p in progress)
        )
        if measured:
            self.batches += progress
            self.drains.append({"t0": t0 * 1000, "t1": t1 * 1000, "progress": progress})

    def query_set(self, table, params: queries.Params, measured: bool = True) -> None:
        t0 = time.time()
        with self.tracer.span("query_set"):
            answers, secs = queries.run_spark(self.spark, table, params, self.tracer)
        log("queries (s): " + " ".join(f"{n}={s:.2f}" for n, s in secs.items()))
        if not measured:
            return
        self.query_windows.append((t0 * 1000, time.time() * 1000))
        self.answers.append(answers)
        for n, s in secs.items():
            self.query_secs[n].append(s)

    # -- workloads -------------------------------------------------------------
    def warm_up(self) -> None:
        """A throwaway drain of WARM_UP_FILES small files and a throwaway query
        set, so codegen and the JIT are warm before anything is measured (a
        cold first batch costs five warm ones)."""
        rng = random.Random(f"warm-up:{self.rng.random()}")
        spool = inputs.Spool(os.path.join(self.tmp, "warm.spool"))
        if self.manifest:
            hist = inputs.History(rng, inputs.Fleet(rng, 40, 4), slots=2)
            spool.publish_envelopes("snapshot.jsonl", hist.snapshot())
            for f in range(WARM_UP_FILES - 1):
                spool.publish_lines(f"backlog-{f}.jsonl", hist.backlog(40, 1, new_slot=2 + f))
        else:
            spool.publish_ticks(inputs.Fleet(rng, 40, 4), 0, WARM_UP_FILES, start_record_id=1)
        table = self.new_table("warm.table")
        self.drain(spool, table, "warm", measured=False)
        lo = inputs.T0_MS + inputs.TICK_MS
        self.query_set(table, queries.Params(keys=(1, 2, 3), lo=lo, hi=lo + 5_000), measured=False)

    def setup(self, threads: int) -> None:
        self.start_session(threads)
        log(f"session up at {time.time() - PROCESS_START:.2f}s")
        rng = self.rng
        self.spool = inputs.Spool(os.path.join(self.tmp, "spool"))
        self.table = self.new_table("table")
        if self.workload == "poll_ticks":
            n_ticks = max(4, round(self.seconds * POLL_TICKS_PER_S))
            fleet = inputs.Fleet(rng, POLL_VEHICLES, ROUTES)
            with self.tracer.span("poller.publish"):
                self.spool.publish_ticks(fleet, 0, n_ticks, start_record_id=1)
            n_keys, mid = POLL_VEHICLES * n_ticks, n_ticks // 2
        else:  # bulk_replay
            fleet = inputs.Fleet(rng, BULK_VEHICLES, ROUTES)
            hist = inputs.History(rng, fleet, BULK_SLOTS)
            snapshot = hist.snapshot()  # the connector snapshot, in two files
            self.spool.publish_envelopes("snapshot-0.jsonl", snapshot[: len(snapshot) // 2])
            self.spool.publish_envelopes("snapshot-1.jsonl", snapshot[len(snapshot) // 2 :])
            for f in range(max(2, round(self.seconds * BULK_FILES_PER_S))):
                lines = hist.backlog(BULK_LINES_PER_FILE, CORRUPT_PER_FILE, new_slot=BULK_SLOTS + f)
                self.spool.publish_lines(f"backlog-{f}.jsonl", lines)
            n_keys, mid = hist.next_id, BULK_SLOTS // 2
        keys = sorted(rng.sample(range(1, n_keys), POINT_KEYS - 1)) + [n_keys + 10**6]
        lo = inputs.T0_MS + mid * inputs.TICK_MS
        self.params = queries.Params(keys=tuple(keys), lo=lo, hi=lo + 3 * inputs.TICK_MS - 1)
        log(f"inputs ready at {time.time() - PROCESS_START:.2f}s")
        self.warm_up()
        log(f"warm-up done at {time.time() - PROCESS_START:.2f}s")
        check.self_test()

    def run(self) -> None:
        self.drain(self.spool, self.table, "table")
        for _ in range(QUERY_SETS):
            self.query_set(self.table, self.params)

    # -- checks ----------------------------------------------------------------
    def verify(self) -> None:
        """Fold the spool in plain Python and check the table, every answer
        and the conservation properties."""
        state: dict[int, dict] = {}
        self.file_counts = [inputs.fold_file(state, path) for path in self.spool.files]
        totals = {k: sum(c[k] for c in self.file_counts) for k in self.file_counts[0]}
        oracle = queries.run_oracle(check.expected_relation(state), self.params)
        for answers in self.answers:
            self.checks += check.check_answers(answers, oracle)
        cols = inputs.COLS
        rows = [tuple(r[c] for c in cols) for r in self.table.read().select(*cols).toArrow().to_pylist()]
        self.checks += check.check_table(rows, state)
        with self.tracer.span("envelope.parse"):
            routed = self.routed_counts()
        try:
            quarantined = self.spark.read.parquet(os.path.join(self.tmp, "table.quarantine")).count()
        except AnalysisException as exc:  # no quarantine file at all: no corrupt row
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            quarantined = 0
        self.checks += check.check_conservation(totals, routed, quarantined, len(rows), len(state))
        self.spool_lines = totals["lines"]

    def layer_facts(self) -> dict:
        """Per-layer facts that need the live session or the table."""
        p = self.params
        if self.manifest:
            live, _ = self.table.select_objects("event_time", -(2**63), 2**63 - 1)
            sizes = [os.path.getsize(os.path.join(self.table.path, k)) for k in live]
            skipped = len(self.table.select_objects("event_time", p.lo, p.hi)[1]) + len(
                self.table.select_objects_bloom(p.keys)[1]
            )
        else:
            sizes, skipped = [], 0
            for root, dirs, files in os.walk(self.table.path):
                dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
                sizes += [os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")]
        return {
            "peak_rss_mb": peak_rss_mb(self.spark),
            "table_files": len(sizes),
            "table_bytes": sum(sizes),
            "objects_skipped": skipped,
        }

    def routed_counts(self) -> dict:
        """What the package's parse + route_ops make of the whole spool as one
        batch read, each output forced."""
        parsed = parse_envelopes(read_envelope_jsonl(self.spark, self.spool.path))
        routed = dict(zip(("upserts", "deletes", "corrupt"), route_ops(parsed)))
        tagged = [df.select(F.lit(k).alias("k")) for k, df in routed.items()]
        counts = dict(tagged[0].unionByName(tagged[1]).unionByName(tagged[2]).groupBy("k").count().collect())
        return {k: counts.get(k, 0) for k in routed}

    # -- metrics ---------------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict:
        lines = sum(c["lines"] for c in self.file_counts)
        ingest_s = sum(d["t1"] - d["t0"] for d in self.drains) / 1000
        return {
            "setup_s": setup_s,
            "ingest_rows_per_s": lines / ingest_s,
            "batch_p50_s": statistics.median(b["durationMs"]["triggerExecution"] for b in self.batches) / 1000,
            "query_s": sum(sum(v) for v in self.query_secs.values()),
        }


def log(msg: str) -> None:
    print(f"cdcbench: {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("poll_ticks", "bulk_replay"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--threads", type=int, default=THREADS,
                    help="Spark task threads (local[N]); 1 gives the single-thread reference")
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the result must be the last stdout line: send everything else,
    # the JVM's output included, to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    os.makedirs(os.path.join(HERE, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    bench = Run(args, tmp)
    try:
        try:
            bench.setup(args.threads)
            setup_s = time.time() - PROCESS_START
            bench.run()
            log(f"run done at {time.time() - PROCESS_START:.2f}s")
            bench.verify()
            log(f"verify done at {time.time() - PROCESS_START:.2f}s")
            metrics = bench.end_to_end(setup_s)
            facts = bench.layer_facts() if bench.traced else None
        finally:
            bench.stop_session()  # also flushes and closes the event log
        if bench.traced:
            e2e, metrics = metrics, per_layer(bench, facts, os.path.join(tmp, "eventlog"))
            bench.tracer.dump(
                os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"),
                {"per_layer": metrics, "end_to_end": e2e},
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for err in bench.checks:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    units = END_TO_END if not bench.traced else PER_LAYER
    result = {
        "correct": not bench.checks,
        "attempted": len(bench.batches) + len(queries.NAMES) * len(bench.answers),
        "failed": 0,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso).timestamp() * 1000


def per_layer(bench: Run, facts: dict, log_dir: str) -> dict:
    """Every per-layer metric, from the spans, the streaming progress and
    Spark's event log (read after the session stopped and flushed it)."""
    ev = EventLog(log_dir)
    tr = bench.tracer
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    windows = [(d["t0"], d["t1"]) for d in bench.drains]
    inside = lambda s: any(lo <= s["start"] <= hi for lo, hi in windows)  # noqa: E731
    merges = [s for s in tr.named("merge") if inside(s)]
    commits = [s for s in tr.named("commit") if inside(s)]
    d = [b["durationMs"] for b in bench.batches]
    lines = sum(c["lines"] for c in bench.file_counts)
    merge_rows = sum(c["upserts"] + c["deletes"] for c in bench.file_counts)
    merge_jobs = [ev.jobs_in([(s["start"], s["end"])]) for s in merges]
    merge_eng = ev.phase([(s["start"], s["end"]) for s in merges])
    trigger_s = sorted(x["triggerExecution"] / 1000 for x in d)
    files_read, rows_scanned = ev.scans(bench.query_windows)
    n_sets = len(bench.query_windows)
    parse = tr.named("envelope.parse")[0]
    out = {
        "session.start_s": dur(tr.named("session.start")[0]) / 1000,
        "session.peak_rss_mb": facts["peak_rss_mb"],
        "poller.publish_s": sum(dur(s) for s in tr.named("poller.publish")) / 1000,
        "source.rows_read_per_line": sum(b["numInputRows"] for b in bench.batches) / lines,
        "source.offset_ms": _median(x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d),
        "pipeline.start_s": _median(
            (_epoch_ms(dr["progress"][0]["timestamp"]) - dr["t0"]) / 1000 for dr in bench.drains
        ),
        "pipeline.planning_ms": _median(x.get("queryPlanning", 0) for x in d),
        "pipeline.add_batch_ms": _median(x.get("addBatch", 0) for x in d),
        "pipeline.wal_commit_ms": _median(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d),
        "pipeline.route_quarantine_ms": _median(
            x.get("addBatch", 0) - dur(m) for x, m in zip(d, merges)
        ),
        # the highest percentile with ten batches beyond it; no tail below 40
        "pipeline.batch_tail_s": trigger_s[-11] if len(trigger_s) >= 40 else 0.0,
        "envelope.parse_rows_per_s": bench.spool_lines / (dur(parse) / 1000),
        "merge.ms": _median(dur(s) for s in merges),
        "merge.jobs": _median(len(js) for js in merge_jobs),
        "merge.tasks": _median(sum(len(j["tasks"]) for j in js) for js in merge_jobs),
        "merge.rows_written_per_input_row": merge_eng["records_written"] / merge_rows,
        "merge.shuffle_bytes_per_input_row": merge_eng["shuffle_write_bytes"] / merge_rows,
        "commit.ms": _median(dur(s) for s in commits),
        "table.files": facts["table_files"],
        "table.bytes": facts["table_bytes"],
        "manifest.objects_skipped": facts["objects_skipped"],
        **{f"query.{n}_ms": _median(v) * 1000 for n, v in bench.query_secs.items()},
        "query.files_read": files_read / n_sets,
        "query.rows_scanned": rows_scanned / n_sets,
    }
    for phase, w in (("ingest", windows), ("query", bench.query_windows)):
        eng = ev.phase(w)
        for m in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_write_bytes", "spill_bytes", "driver_only_s"):
            out[f"spark.{phase}.{m}"] = eng[m]
    return out


if __name__ == "__main__":
    sys.exit(main())
