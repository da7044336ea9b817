"""The benchmark's workloads, driven through the engine's public functions.

Each workload writes its seeded inputs (``prepare``) and runs one pass over
a fixed op list (``run_pass``). A pass with ``check=True`` is the set-up's
untimed warm-up pass, the first in the process: it runs the same ops as a
timed pass but brings each op's output to the driver instead of writing it
to the noop sink, checks it against an independent computation and counts
mismatches as failed ops.

- ``query``: registry queries, each followed by a noop-sink write: the
  message-log scans of the reference's ``nats_scan`` surface
  (``message_scan``, range pushdown, JSON/typed extraction, Catalyst
  execution) and materialization-heavy curation queries whose cost is
  mostly driver-side build with eager inner jobs. Checked against each
  query's DuckDB oracle SQL.
- ``stream``: the ``nats_jetstream`` Python DataSource (batch reads, one
  ``readStream`` drain) and a catch-up tail through ``message_stream`` →
  ``windowed_message_counts`` → ``continuous_rollup_sink``. Reads are
  checked against ``message_scan`` with the same filters, the tail against
  batch ``windowed_message_counts`` over the same files.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

import datagen
from sparkstats import SparkStats, progress, trigger_stats

#: the message-scan surface of the reference's ``nats_scan``: base scan,
#: range pushdown, subject filters, JSON/typed/variant extraction
SCAN_QUERIES = [
    "scan_base", "scan_seq_range", "scan_time_range", "scan_subject_filter",
    "scan_json_cast_agg", "scan_typed_extract",
]
#: build-dominated curation queries (eager materializations, many jobs)
#: whose DuckDB oracles run in seconds at this scale; ``docs_dsir_select``
#: also runs Arrow Python UDFs in Spark's Python workers
CURATE_QUERIES = ["text_unigram_bits", "dedup_minhash_lsh", "docs_dsir_select"]
#: a stream that runs longer than this is stopped and its op counted failed
STREAM_TIMEOUT_S = 90


@dataclass
class OpResult:
    op: str
    latency_s: float | None  # None: the op raised
    msgs: int = 0


class Bench:
    """What a pass runs against: the session and registry, the tracer, the
    run's failure count and, on a traced pass, Spark's counters summed per
    layer into ``layer``."""

    def __init__(self, spark, registry, tracer) -> None:
        self.spark = spark
        self.registry = registry
        self.tracer = tracer
        self.stats: SparkStats | None = None
        self.layer: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.check_s = 0.0  # time spent checking outputs, not running ops

    @contextlib.contextmanager
    def checking(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def fail(self, op: str, why) -> None:
        self.failed += 1
        self.problems.append(f"{op}: {str(why).strip().splitlines()[0][:300]}")

    @contextlib.contextmanager
    def phase(self, op: str, name: str):
        """One call into a layer. On a traced pass: a span, the op's Spark
        jobs under a job group (streams add their run id to the yielded
        list), and those jobs' stage counters added to ``layer``."""
        if self.stats is None:
            with self.tracer.span(name):
                yield []
            return
        sc = self.spark.sparkContext
        group = f"perfbench/{op}/{name}"
        groups = [group]
        loose = set(self.stats.jobs(None))
        sql_mark = self.stats.sql_mark()
        sc.setJobGroup(group, group)
        with self.tracer.span(name) as sid:
            try:
                yield groups
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        ids = {j for g in groups for j in self.stats.jobs(g)}
        ids |= set(self.stats.jobs(None)) - loose  # e.g. foreachBatch callbacks
        tot, job_spans = self.stats.job_stats(sorted(ids))
        for k, v in tot.items():
            self.layer[f"spark.{k}"] += v
        for k, v in self.stats.python_metrics(sql_mark).items():
            self.layer[k] += v
        parents = [
            s for s in self.tracer.spans
            if s["name"] == "stream.trigger" and s["parent"] == sid
        ]
        for _jid, start, end in job_spans:
            parent = next(
                (s["id"] for s in parents if s["start"] <= start <= s["end"]), sid
            )
            self.tracer.add("spark.job", start, end, parent=parent)


class _Collected:
    """Rows already collected, in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, rows, columns) -> None:
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


def _duckdb(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


class QueryWorkload:
    """Registry queries, each ``fn(spark, data_dir)`` then a noop-sink write."""

    def __init__(self, queries: list[str], n_events: int, n_docs: int) -> None:
        self.queries = queries
        self.n_events = n_events
        self.n_docs = n_docs
        self.rows_out: dict[str, int] = {}

    def on_session(self, spark) -> None:
        pass

    def prepare(self, data_dir: str, seed: int) -> None:
        datagen.write_table(datagen.events_table(self.n_events, seed), f"{data_dir}/events.parquet")
        datagen.write_table(datagen.documents_table(self.n_docs, seed), f"{data_dir}/documents.parquet")

    def run_pass(self, b: Bench, data_dir: str, pass_no: int, check: bool) -> list[OpResult]:
        from tests.oracle_harness import compare

        con = _duckdb(data_dir, ["events", "documents"]) if check else None
        out = []
        for name in self.queries:
            op = f"{name}#{pass_no}"
            fn, sql = b.registry[name]
            b.attempted += 1
            try:
                with b.tracer.span("op", op=op):
                    t0 = time.perf_counter()
                    with b.phase(op, "queries.build"):
                        df = fn(b.spark, data_dir)
                    t1 = time.perf_counter()
                    with b.phase(op, "queries.exec"):
                        if check:
                            rows = df.collect()
                        else:
                            df.write.mode("overwrite").format("noop").save()
                    t2 = time.perf_counter()
                if check:
                    self.rows_out[name] = len(rows)
                    with b.checking():
                        problems = compare(_Collected(rows, df.columns), con, sql, name)
                    if problems:
                        b.fail(op, "; ".join(problems))
            except Exception as exc:  # noqa: BLE001 — a failing op is counted, the run goes on
                b.fail(op, exc)
                out.append(OpResult(op, None))
                continue
            b.layer["queries.build_s"] += t1 - t0
            b.layer["queries.exec_s"] += t2 - t1
            b.layer["rows_out"] += self.rows_out.get(name, 0)
            if b.stats is not None:
                b.layer["spark.persisted_rdds_left"] = max(
                    b.layer["spark.persisted_rdds_left"], b.stats.persisted_rdds()
                )
            out.append(OpResult(op, t2 - t0))
        if con is not None:
            con.close()
        return out


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _tree_files(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _sorted_table(t):
    """An Arrow table with its columns by name and its rows sorted."""
    cols = sorted(t.column_names)
    return t.select(cols).sort_by([(c, "ascending") for c in cols])


def _same(a, b) -> bool:
    """Equal names, types and values (nullability aside)."""
    return a.column_names == b.column_names and all(
        x.equals(y) for x, y in zip(a.columns, b.columns)
    )


class StreamWorkload:
    """Connector reads, one DataSource stream drain, and a rollup tail.

    The log is written twice: as one row group (``log/``) and with the same
    rows in ten row groups (``regrouped/``), because each partition task
    decodes every row group its slice touches. Reads alternate between the
    two. The tail backlog is ``tail_files`` consecutive slices of the log.
    """

    def __init__(self, n_msgs: int, tail_files: int, tail_msgs: int) -> None:
        self.n_msgs = n_msgs
        self.tail_files = tail_files
        self.tail_msgs = tail_msgs

    def on_session(self, spark) -> None:
        from duckdb_nats_jetstream_spark.sources.nats_source import register

        register(spark)

    def prepare(self, data_dir: str, seed: int) -> None:
        self.seed = seed
        table = datagen.events_table(self.n_msgs, seed)
        datagen.write_table(table, f"{data_dir}/log/events.parquet")
        datagen.write_table(
            table, f"{data_dir}/regrouped/events.parquet", row_group_size=self.n_msgs // 10
        )
        self.ts_us = table.column("ts").cast("int64").to_numpy()
        self.etype = np.array(table.column("event_type").to_pylist())
        # the backlog: consecutive rows from a seeded offset, cut at seeded
        # points within ±10% of equal file sizes
        rng = np.random.default_rng(seed + 1)
        total = self.tail_files * self.tail_msgs
        lo = int(rng.integers(0, self.n_msgs - total))
        jitter = rng.integers(-self.tail_msgs // 10, self.tail_msgs // 10 + 1, self.tail_files - 1)
        cuts = [0] + [i * self.tail_msgs + int(j) for i, j in zip(range(1, self.tail_files), jitter)] + [total]
        self.tail_dir = f"{data_dir}/tail/events.parquet"
        self.tail_bytes = 0
        for i in range(self.tail_files):
            self.tail_bytes += datagen.write_table(
                table.slice(lo + cuts[i], cuts[i + 1] - cuts[i]), f"{self.tail_dir}/part-{i:04d}.parquet"
            )

    def _reads(self, data_dir: str, pass_no: int) -> list[tuple[str, str, dict, int]]:
        """(kind, log path, options, expected rows) for one pass: every read
        kind, with ranges drawn from the seed and the pass, so each pass
        reads slices it has not read before. ``json3`` asks for three
        fields, of which the payload (``{"k": n}``, as in the fixtures) has
        one; the other two take the missing-key path and read NULL."""
        rng = np.random.default_rng([self.seed, pass_no & 0xFFFF])
        log, regrouped = f"{data_dir}/log/events.parquet", f"{data_dir}/regrouped/events.parquet"
        n = self.n_msgs
        kind = str(rng.choice(datagen.EVENT_TYPES))
        t0 = int(rng.integers(self.ts_us[0], self.ts_us[3 * n // 4]))
        t1 = t0 + int((self.ts_us[-1] - self.ts_us[0]) // 4)
        s0 = int(rng.integers(1, 3 * n // 4))
        s1 = s0 + n // 4 - 1
        iso = lambda us: (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)).isoformat()  # noqa: E731
        in_time = int(((self.ts_us >= t0) & (self.ts_us <= t1)).sum())
        return [
            ("raw", log, {}, n),
            ("json3", regrouped, {"json_extract": "k,user,kind"}, n),
            ("subject", regrouped, {"subject": kind}, int((self.etype == kind).sum())),
            ("time", log, {"start_time": iso(t0), "end_time": iso(t1)}, in_time),
            ("seq", regrouped, {"start_seq": s0, "end_seq": s1}, s1 - s0 + 1),
        ]

    def _reader(self, spark, path: str, opts: dict):
        r = spark.read.format("nats_jetstream").option("stream", "events").option("replay_path", path)
        for k, v in opts.items():
            r = r.option(k, str(v))
        return r.load()

    def _check_read(self, b: Bench, op, path, opts, expected, got) -> None:
        from duckdb_nats_jetstream_spark.sources.message_scan import message_scan

        kw = {k: opts[k] for k in ("subject", "start_seq", "end_seq", "start_time", "end_time") if k in opts}
        if "json_extract" in opts:
            kw["json_fields"] = opts["json_extract"].split(",")
        got = _sorted_table(got)
        want = _sorted_table(message_scan(b.spark, os.path.dirname(path), **kw).toArrow())
        if got.num_rows != expected or not _same(got, want):
            b.fail(op, f"connector read gave {got.num_rows} rows, message_scan "
                       f"{want.num_rows}, expected {expected}; equal={_same(got, want)}")

    def run_pass(self, b: Bench, data_dir: str, pass_no: int, check: bool) -> list[OpResult]:
        out = []
        for kind, path, opts, expected in self._reads(data_dir, pass_no):
            op = f"{kind}#{pass_no}"
            b.attempted += 1
            try:
                with b.tracer.span("op", op=op):
                    t0 = time.perf_counter()
                    with b.phase(op, "connector.read"):
                        df = self._reader(b.spark, path, opts)
                        if check:
                            rows = df.toArrow()
                        else:
                            df.write.mode("overwrite").format("noop").save()
                    lat = time.perf_counter() - t0
                if check:
                    with b.checking():
                        self._check_read(b, op, path, opts, expected, rows)
            except Exception as exc:  # noqa: BLE001
                b.fail(op, exc)
                out.append(OpResult(op, None))
                continue
            out.append(OpResult(op, lat, expected))
        if check:
            # the DataSource stream reader, checked and its batching counted
            # once per run; its latency is mostly stream start and stop,
            # which every tail op also pays
            out.append(self._drain(b, data_dir, pass_no))
        out.extend(self._tail(b, data_dir, pass_no, check))
        return out

    def _await(self, b: Bench, op: str, q) -> bool:
        if q.awaitTermination(STREAM_TIMEOUT_S):
            return True
        q.stop()
        b.fail(op, f"stream still running after {STREAM_TIMEOUT_S} s")
        return False

    def _drain(self, b: Bench, data_dir: str, pass_no: int) -> OpResult:
        op = f"drain#{pass_no}"
        b.attempted += 1
        ck = f"{data_dir}/ck/drain-{pass_no}"
        try:
            with b.tracer.span("op", op=op):
                t0 = time.perf_counter()
                with b.phase(op, "stream.drain") as groups:
                    q = (
                        b.spark.readStream.format("nats_jetstream")
                        .option("stream", "events")
                        .option("replay_path", f"{data_dir}/log/events.parquet")
                        .option("batch_size", "2048")
                        .load()
                        .writeStream.format("noop")
                        .option("checkpointLocation", ck)
                        .trigger(availableNow=True)
                        .start()
                    )
                    groups.append(str(q.runId))
                    done = self._await(b, op, q)
                lat = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001
            b.fail(op, exc)
            return OpResult(op, None)
        prog = progress(q)
        rows = [p["numInputRows"] for p in prog if p["numInputRows"]]
        b.layer["stream.drain_s"] = lat
        b.layer["stream.drain_triggers"] = len(prog)
        b.layer["stream.drain_rows_per_trigger"] = max(rows) if rows else 0
        if done and sum(rows) != self.n_msgs:
            b.fail(op, f"drain delivered {sum(rows)} of {self.n_msgs} messages")
        return OpResult(op, lat if done else None, sum(rows))

    def _tail(self, b: Bench, data_dir: str, pass_no: int, check: bool) -> list[OpResult]:
        from duckdb_nats_jetstream_spark.streaming.stream_scan import (
            continuous_rollup_sink, message_stream, windowed_message_counts,
        )

        op = f"tail#{pass_no}"
        b.attempted += 1
        sink, ck = f"{data_dir}/rollup/{pass_no}", f"{data_dir}/ck/tail-{pass_no}"
        try:
            with b.tracer.span("op", op=op):
                with b.phase(op, "stream.tail") as groups:
                    q = continuous_rollup_sink(
                        windowed_message_counts(
                            message_stream(b.spark, self.tail_dir, json_fields=["k"], max_files_per_trigger=1)
                        ),
                        sink, ck,
                    )
                    groups.append(str(q.runId))
                    done = self._await(b, op, q)
                    prog = progress(q)
                    self._trigger_spans(b, prog)
        except Exception as exc:  # noqa: BLE001
            b.fail(op, exc)
            return [OpResult(op, None)]
        if not done:
            return [OpResult(op, None)]
        files, size = _tree_files(sink)
        msgs = self.tail_files * self.tail_msgs
        for k, v in trigger_stats(prog).items():
            b.layer[f"stream.{k}"] = v
        b.layer["sinks.files_written"] += files
        b.layer["sinks.bytes_written"] += size
        b.layer["sinks.write_amp"] = size / self.tail_bytes
        b.layer["sinks.files_per_msg"] = files / msgs
        if check:
            with b.checking():
                self._check_tail(b, op, sink)
        return [
            OpResult(f"trigger{i}#{pass_no}", p["durationMs"]["triggerExecution"] / 1e3, p["numInputRows"])
            for i, p in enumerate(prog)
        ]

    def _trigger_spans(self, b: Bench, prog: list[dict]) -> None:
        """Each trigger as a span under the tail op, its phases as children
        laid end to end in the order a micro-batch runs them."""
        if not b.tracer.enabled:
            return
        parent = b.tracer.current()
        for p in prog:
            start = _epoch_s(p["timestamp"])
            d = p["durationMs"]
            b.tracer.add("stream.trigger", start, start + d["triggerExecution"] / 1e3, parent=parent)
            tid, at = len(b.tracer.spans) - 1, start
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
                ms = d.get(phase, 0)
                b.tracer.add(f"stream.{phase}", at, at + ms / 1e3, parent=tid)
                at += ms / 1e3

    def _check_tail(self, b: Bench, op: str, sink: str) -> None:
        from duckdb_nats_jetstream_spark.sources.message_scan import message_scan
        from duckdb_nats_jetstream_spark.streaming.stream_scan import (
            read_rollup, windowed_message_counts,
        )

        got = _sorted_table(read_rollup(b.spark, sink).toArrow())
        want = _sorted_table(
            windowed_message_counts(message_scan(b.spark, os.path.dirname(self.tail_dir))).toArrow()
        )
        if not _same(got, want):
            b.fail(op, f"rollup has {got.num_rows} rows, batch windowed counts "
                       f"{want.num_rows}; contents differ")

    def nats_source_probe(self, b: Bench, data_dir: str, probe_no: int) -> dict[str, float]:
        """Driver-side calls into the replay transport and the batch reader,
        each in seconds per 100k messages."""
        from duckdb_nats_jetstream_spark.sources.nats_source import (
            NatsScanBatchReader, ParquetReplayTransport, SeqRangePartition,
        )

        path = f"{data_dir}/regrouped/events.parquet"
        base = {"stream": "events", "replay_path": path}
        per = 1e5 / self.n_msgs
        out = {}

        def timed(name, fn):
            with b.tracer.span(f"nats_source.{name}"):
                t0 = time.perf_counter()
                res = fn()
                out[name] = time.perf_counter() - t0
            return res

        with b.tracer.span("op", op=f"nats_source#{probe_no}"):
            transport = ParquetReplayTransport(path, "events")
            first, last = timed("stream_info", transport.stream_info)
            timed("partitions", NatsScanBatchReader(base).partitions)
            # a range this process has not fetched yet, then the same again
            last -= probe_no
            timed("fetch_new", lambda: sum(1 for _ in transport.fetch(first, last)))
            timed("fetch_repeat", lambda: sum(1 for _ in transport.fetch(first, last)))
            part = SeqRangePartition(first, last)
            # a subject filter every message passes: the per-message filter
            # and the Arrow build, on a cached fetch
            every = NatsScanBatchReader({**base, "subject": "events."})
            timed("filter_arrow", lambda: sum(rb.num_rows for rb in every.read(part)))
            js = NatsScanBatchReader({**base, "subject": "events.", "json_extract": "k,user,kind"})
            timed("json_read", lambda: sum(rb.num_rows for rb in js.read(part)))
        out["json_extract"] = max(0.0, out.pop("json_read") - out["filter_arrow"])
        return {f"nats_source.{k}_s": v * per for k, v in out.items()}


WORKLOADS = ("query", "stream")


def make(name: str):
    if name == "query":
        return QueryWorkload(SCAN_QUERIES + CURATE_QUERIES, n_events=10_000, n_docs=300)
    if name == "stream":
        return StreamWorkload(n_msgs=10_000, tail_files=2, tail_msgs=20)
    raise ValueError(f"unknown workload {name!r}; choose one of {', '.join(WORKLOADS)}")
