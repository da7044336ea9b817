#!/usr/bin/env python3
"""Benchmark of the engine, measured from outside through its public API.

    python3 perfbench/run.py --workload query|stream --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. It makes its inputs from ``--seed``,
sets up once (session start, registry import, data preparation and one
untimed warm-up pass that also checks every op's output), then runs timed
passes over the workload's op list for ``--seconds``, and at least two
(a traced run alternates untraced and traced passes and runs at least two
untraced ones and one traced). One process, one closed-loop client, on
``local[<nproc>]``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before it
holds the rest of the record: the host and config stamp, sample counts,
the op-latency percentile reported as ``op_tail_s``, throughput, failures
and counted observations. A traced run also writes its spans to
``perfbench/out/``. Everything else the run writes (data, logs,
checkpoints, sink output, Spark's local dirs) lives in a temporary
directory in the checkout that is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "duckdb_nats_jetstream_spark"
#: untraced passes every run makes, however long they take: a pass slows
#: as the JVM warms up, so the median must not shift with how many passes
#: fit in ``--seconds``
MIN_PASSES = 2
#: no new pass starts after this many seconds of measuring
MEASURE_CAP_S = 60.0
#: full JVM collections before reading retained memory; G1 gives heap back
#: in steps, and three, half a second apart, bring it within a few percent
#: of where it settles
RETAIN_GCS = 3


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(tmp: str) -> None:
    """Environment for the JVM and Spark's Python workers, set before the
    JVM starts: the checkout on ``PYTHONPATH``, every core, and every
    scratch path inside ``tmp``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -Dderby.system.home={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.local.dir={os.path.join(tmp, 'local')}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )


def _git_commit() -> str:
    """The checkout's commit from ``.git`` if there is one."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD"), encoding="utf-8") as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref), encoding="utf-8") as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs"), encoding="utf-8") as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _host_ref_s() -> float:
    """Median time of a fixed pure-Python loop: a reading of host speed,
    recorded next to the results so that runs on a slowed host show."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _stamp(spark, seed: int) -> dict:
    import pyspark

    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {
        "nproc": _nproc(),
        "mem_total_mb": round(mem_kb / 1024),
        "pyspark": pyspark.__version__,
        "spark_driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "master": spark.sparkContext.master,
        "git_commit": _git_commit(),
        "seed": seed,
        "host_ref_s": _host_ref_s(),
    }


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The op-latency tail as (value, percentile): the highest percentile
    with at least ten samples beyond it once there are enough samples for
    that to be at or above p90, otherwise p90 by nearest rank."""
    xs = sorted(samples)
    i = max(len(xs) - 11, math.ceil(0.9 * len(xs)) - 1)
    return xs[i], round(100.0 * (i + 1) / len(xs), 1)


def _op_medians(passes) -> dict[str, float]:
    """Median latency per op, over passes (op ids are ``<op>#<pass>``)."""
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"]:
            if o.latency_s is not None:
                by_op.setdefault(o.op.split("#")[0], []).append(o.latency_s)
    return {k: round(statistics.median(v), 4) for k, v in by_op.items()}


class Run:
    """One benchmark run: the set-up, timed passes and the result record."""

    def __init__(self, args, tmp: str) -> None:
        import workloads
        from tracing import NullTracer, Tracer

        self.args = args
        self.tmp = tmp
        self.tracer = Tracer() if args.trace else NullTracer()
        self.workload = workloads.make(args.workload)
        self.spark = None
        self.registry = None
        self.setup_rec: dict[str, float] = {}
        self.data_dir = os.path.join(tmp, "data")

    # -- set-up --------------------------------------------------------
    def setup(self):
        """Start the session (and the JVM), import the registry, prepare
        the data and run the warm-up pass, which checks every op's output.
        Returns that pass's :class:`~workloads.Bench`."""
        from duckdb_nats_jetstream_spark.session import get_spark
        from workloads import Bench

        rec = self.setup_rec
        with self.tracer.span("setup", op="setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                self.spark = get_spark("perfbench")
                self.workload.on_session(self.spark)
            rec["session.start_s"] = time.perf_counter() - t0
            t = time.perf_counter()
            with self.tracer.span("queries.import"):
                from duckdb_nats_jetstream_spark.queries import full_registry

                self.registry = full_registry()
            rec["queries.import_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with self.tracer.span("data.prep"):
                self.workload.prepare(self.data_dir, self.args.seed)
            rec["data.prep_s"] = time.perf_counter() - t
            t = time.perf_counter()
            bench = Bench(self.spark, self.registry, self.tracer)
            with self.tracer.span("warm_pass"):
                self.workload.run_pass(bench, self.data_dir, -1, check=True)
            # checking outputs is the benchmark's work, not the program's
            rec["check_s"] = bench.check_s
            rec["warm_pass_s"] = time.perf_counter() - t - bench.check_s
            rec["setup_s"] = time.perf_counter() - t0 - bench.check_s
        return bench

    # -- the whole run ---------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        from rss import PeakRss
        from sparkstats import SparkStats
        from workloads import Bench

        rss = PeakRss().start()
        try:
            checked = self.setup()
            stamp = _stamp(self.spark, self.args.seed)
            # timed passes; a traced run alternates untraced and traced ones
            plain, traced = [], []
            stats = SparkStats(self.spark) if self.args.trace else None
            t_start = time.perf_counter()
            n = 0
            while True:
                elapsed = time.perf_counter() - t_start
                enough = len(plain) >= MIN_PASSES and (traced or not self.args.trace)
                if enough and (elapsed >= self.args.seconds or elapsed >= MEASURE_CAP_S):
                    break
                b = Bench(self.spark, self.registry, self.tracer)
                is_traced = self.args.trace and n % 2 == 1
                b.stats = stats if is_traced else None
                with self.tracer.span("pass", op=f"pass{n}") as sid:
                    t0 = time.perf_counter()
                    ops = self.workload.run_pass(b, self.data_dir, n, check=False)
                    wall = time.perf_counter() - t0
                (traced if is_traced else plain).append(
                    {"wall": wall, "ops": ops, "bench": b, "span": sid}
                )
                n += 1
            probe = {}
            if self.args.trace and hasattr(self.workload, "nats_source_probe"):
                b = Bench(self.spark, self.registry, self.tracer)
                runs = [self.workload.nats_source_probe(b, self.data_dir, i) for i in range(3)]
                probe = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
        finally:
            rss.stop()
        return self._report(checked, plain, traced, probe, stamp, rss, self._retained_mb())

    def _retained_mb(self) -> float:
        """PSS of the process tree after the work, once the JVM has
        collected its garbage: what the session keeps (cached data, state,
        idle workers). The peak depends on when G1 chose to grow the heap;
        this does not."""
        from rss import tree_pss_bytes

        for _ in range(RETAIN_GCS):
            self.spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)  # G1 gives memory back from a background thread
        return sum(tree_pss_bytes(os.getpid()).values()) / 2**20

    def _report(self, checked, plain, traced, probe, stamp, rss, retained_mb):
        import per_layer

        passes = plain + traced
        attempted = sum(p["bench"].attempted for p in passes) + checked.attempted
        failed = sum(p["bench"].failed for p in passes) + checked.failed
        problems = checked.problems + [x for p in passes for x in p["bench"].problems]
        lat = [o.latency_s for p in plain for o in p["ops"] if o.latency_s is not None]
        pass_s = statistics.median(p["wall"] for p in plain)
        msgs = statistics.median(sum(o.msgs for o in p["ops"]) for p in plain)
        tail, pct = tail_percentile(lat) if lat else (0.0, 0.0)
        info = {
            "workload": self.args.workload,
            "stamp": stamp,
            "setup": self.setup_rec,
            "pass_walls_s": [round(p["wall"], 4) for p in plain],
            "op_samples": len(lat),
            "peak_rss_mb": rss.peak_mb,
            "peak_rss_parts_mb": rss.peak_parts_mb,
            "op_tail_percentile": pct,
            "op_median_s": _op_medians(plain),
            "msgs_per_s": msgs / pass_s if msgs else 0.0,
            "write_amp": plain[-1]["bench"].layer.get("sinks.write_amp", 0.0),
            "failed_ops": failed / attempted,
            "problems": problems,
        }
        layer = {}
        if self.args.trace:
            memory = {"memory.peak_rss_mb": rss.peak_mb, "memory.peak_jvm_mb": rss.peak_parts_mb.get("java", 0.0)}
            layer = per_layer.table(self, checked, plain, traced, probe | memory)
            info["trace_overhead_s"] = layer["trace.overhead_s"][0]
            self._dump_trace(info, layer)
        info["observations"] = self._observations(checked, plain)
        end_to_end = {
            "setup_s": (self.setup_rec["setup_s"], "s"),
            "pass_s": (pass_s, "s"),
            "op_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
            "op_tail_s": (tail, "s"),
            "retained_rss_mb": (retained_mb, "MB"),
        }
        metrics = layer if self.args.trace else end_to_end
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return info, result

    def _observations(self, checked, plain) -> dict:
        """Counts of two known defects, observed and not fixed: the
        DataSource stream reader ignores ``batch_size``, and the rollup
        sink writes about one file per input message."""
        out = {}
        if "stream.drain_rows_per_trigger" in checked.layer:
            out["drain_rows_per_trigger_at_batch_size_2048"] = checked.layer["stream.drain_rows_per_trigger"]
        last = plain[-1]["bench"].layer
        if "sinks.files_per_msg" in last:
            out["rollup_files_per_input_msg"] = last["sinks.files_per_msg"]
        return out

    def _dump_trace(self, info: dict, layer: dict) -> None:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{self.args.workload}-seed{self.args.seed}.json")
        self.tracer.dump(path, {"info": info, "per_layer": {k: v for k, (v, _u) in layer.items()}})

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [
        p for p in (PACKAGE, os.path.join("tests", "oracle_harness.py"))
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
              "run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose one of "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    log_path = os.path.join(tmp, "run.log")
    stdout, stderr = os.dup(1), os.dup(2)
    run = None
    try:
        _configure_env(tmp)
        log = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(log, 1)  # the JVM and the Python workers inherit these
        os.dup2(log, 2)
        os.close(log)
        run = Run(args, tmp)
        info, result = run.execute()
        run.close()
        run = None
    except BaseException:  # noqa: BLE001 — report, clean up, exit non-zero
        sys.stdout.flush()
        os.dup2(stderr, 2)
        traceback.print_exc()
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return 1
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(stdout, 1)
        os.dup2(stderr, 2)
        if run is not None:
            try:
                run.close()
            except Exception:  # noqa: BLE001 — best effort while failing
                traceback.print_exc()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
