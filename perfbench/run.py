"""Benchmark of the alpaca_pyspark_spark engine, one workload per run.

    python3 perfbench/run.py --workload rest_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root.  One process, one client: after set-up
and a warm-up pass that also checks every op's result, the client runs
whole passes over the workload's fixed op list back to back on
``local[nproc]`` until ``--seconds`` have elapsed.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``.  A traced run alternates
untraced and traced passes, so the tracing overhead is their
difference; its spans are written to ``perfbench/out/``.

Everything the run writes (tables, Spark scratch space, checkpoints)
lives in ``perfbench/.work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: set-ups per run; ``setup_s`` reports their median
SETUP_REPS = 3
#: driver JVM heap, fixed in size (-Xms = -Xmx): the working set is
#: tens of MB, the host is shared, and a heap the collector may grow
#: made the JVM's peak RSS vary by 1.7x between runs
DRIVER_MEM = "1g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_gmean_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MiB",
}

SCAN_OPS = ("scan_wide", "scan_deep", "scan_pushdown")
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.scoped_released": "count",
    "tables.load_s": "s",
    "tables.scan_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plans.force_evaluate_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.failed_tasks": "count",
    "exec.jvm_cpu_s": "s",
    "exec.python_cpu_s": "s",
    "exec.python_cpu_share": "ratio",
    "exec.cpu_util": "ratio",
    "sources.partitioning.plan_s": "s",
    "sources.partitioning.partitions": "count",
    "sources.http.fetch_s": "s",
    "sources.http.requests": "count",
    "sources.http.pages": "count",
    "sources.http.bytes": "bytes",
    "sources.http.requests_per_page": "ratio",
    "sources.wire.decode_s": "s",
    "sources.wire.rows": "rows",
    "sources.wire.skipped": "rows",
    **{f"sources.alpaca.{op}.{k}": u for op in SCAN_OPS for k, u in (
        ("scan_s", "s"), ("tasks", "count"), ("fetch_s", "s"), ("decode_s", "s"),
        ("overhead_s", "s"),
    )},
    "sources.alpaca.rows_per_s": "rows/s",
    "sources.sink.write_s": "s",
    "sources.sink.posts": "count",
    "sources.sink.commits": "count",
    "sources.sink.rows_per_post": "rows",
    "sources.sink.rows_per_s": "rows/s",
    "sources.replay.requests": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_mem_bytes": "bytes",
    "streaming.overhead_s": "s",
    "streaming.rows_per_s": "rows/s",
    # self time per traced pass of each layer the timed ops call into
    **{f"self_s.{layer}": "s" for layer in (
        "bench", "session", "queries", "plans", "sources.alpaca", "sources.sink", "streaming",
    )},
    "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
    "ops.failed_frac": "ratio",
}

log = logging.getLogger("perfbench")


def configure_host(work: Path) -> int:
    """Size Spark for this host before the JVM starts: ``local[nproc]``,
    a bounded driver heap, and every scratch directory inside ``work``.
    Python workers get the engine package on their ``PYTHONPATH``."""
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    # every JVM, the spark-submit launcher included: no perf-data file
    # in /tmp, temporary files in ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            f"-Xms{DRIVER_MEM}",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf",
            shlex.quote(f"spark.hadoop.hadoop.tmp.dir={tmp}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "pyspark-shell",
        ]
    )
    sys.path.insert(0, str(ROOT))
    return nproc


class Run:
    def __init__(self, args, work: Path, nproc: int):
        from spans import ProcessTree, Tracer
        from workloads import WORKLOADS, Ctx

        self.args = args
        self.tracer = Tracer(enabled=bool(args.trace))
        self.tree = ProcessTree()
        self.ctx = Ctx(self.tracer, work, nproc)
        self.wl = WORKLOADS[args.workload](self.ctx, args.seed, args.scale)
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}

    # -- phases -----------------------------------------------------------
    def start_session(self) -> float:
        from alpaca_pyspark_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session:get_spark"):
            spark = get_spark("perfbench")
        self.ctx.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def setup(self) -> float:
        """``SETUP_REPS`` set-ups (session, sources, inputs served,
        table warm-up); returns their median.  The first one starts the
        JVM; later ones stop the session and build a new one."""
        from pyspark import SparkContext

        times, gets = [], []
        for rep in range(SETUP_REPS):
            if rep:
                self.wl.close()
                self.ctx.spark.stop()
            t0 = time.perf_counter()
            gets.append(self.start_session())
            if rep == 0:
                self.tree.attach(SparkContext._gateway.proc.pid)
            t1 = time.perf_counter()
            self.wl.setup()
            times.append(time.perf_counter() - t0)
            log.info("setup rep: session %.2fs, workload %.2fs", t1 - t0, time.perf_counter() - t1)
        self.metrics["session.get_spark_s"] = statistics.median(gets)
        log.info("setup reps %s", [round(t, 3) for t in times])
        return statistics.median(times)

    def check_pass(self, ops) -> float:
        """The first warm-up pass: every op once, its result verified
        outside the timed part.  Returns the time spent doing the ops'
        work."""
        warm = 0.0
        for op in ops:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                got = op.collect()
                warm += time.perf_counter() - t0
                log.info("check %s %.2fs", op.name, time.perf_counter() - t0)
                ok = op.verify(got)
            except Exception:
                log.error("check of %s raised:\n%s", op.name, traceback.format_exc())
                ok = False
            if not ok:
                log.error("check of %s FAILED", op.name)
                self.failed += 1
        return warm

    def window(self, ops):
        """Whole passes back to back until ``--seconds`` have elapsed.  A
        traced run traces passes in the order untraced, traced, traced,
        untraced (repeated), so a warming trend cancels out of the
        overhead, and runs at least four passes."""
        from spans import JobCounter

        jobs = JobCounter(self.ctx.spark.sparkContext) if self.args.trace else None
        lat: dict[str, list[float]] = {op.name: [] for op in ops}
        traced_lat: dict[str, list[float]] = {op.name: [] for op in ops}
        job_counts: dict[str, list[dict]] = {"build": [], "eval": []}
        passes = {False: [], True: []}
        cpu = {"jvm": 0.0, "py": 0.0}
        span_ranges = []
        t_start = time.perf_counter()
        k = 0
        while True:
            traced = bool(self.args.trace) and k % 4 in (1, 2)
            self.tracer.enabled = traced
            self.ctx.jobs = jobs if traced else None
            if traced:
                cpu0 = self.tree.cpu()
                lo = len(self.tracer.spans)
                served0 = self.wl.requests_served()
            p0 = time.perf_counter()
            with self.tracer.span("bench:pass"):
                for op in ops:
                    self.ctx.op_id = f"{op.name}#{k}"
                    self.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        with self.tracer.span("bench:op", op=self.ctx.op_id):
                            n = op.execute()
                        ok = n == op.expected_rows
                        if not ok:
                            log.error("%s: %s rows, expected %s", self.ctx.op_id, n, op.expected_rows)
                    except Exception:
                        log.error("%s raised:\n%s", self.ctx.op_id, traceback.format_exc())
                        ok = False
                    dt = time.perf_counter() - t0
                    if not ok:
                        self.failed += 1
                        continue
                    lat[op.name].append(dt)
                    if traced:
                        traced_lat[op.name].append(dt)
                        for phase in job_counts:
                            counts = jobs.counts(f"{self.ctx.op_id}:{phase}")
                            job_counts[phase].append((op.name, counts))
            passes[traced].append(time.perf_counter() - p0)
            if traced:
                c1 = self.tree.cpu()
                cpu["jvm"] += c1[0] - cpu0[0]
                cpu["py"] += c1[1] - cpu0[1]
                span_ranges.append((lo, len(self.tracer.spans)))
                self.ctx.counters["replay.requests"] = (
                    self.ctx.counters.get("replay.requests", 0)
                    + self.wl.requests_served() - served0
                )
            k += 1
            enough = k >= (4 if self.args.trace else 1)
            if enough and time.perf_counter() - t_start >= self.args.seconds:
                break
        self.tracer.enabled = bool(self.args.trace)
        self.ctx.jobs = None
        return lat, traced_lat, job_counts, passes, cpu, span_ranges

    # -- metrics ----------------------------------------------------------
    def end_to_end(self, ops, lat, passes, setup_s) -> None:
        all_lat = [x for v in lat.values() for x in v]
        work = sum(op.work_rows * len(lat[op.name]) for op in ops)
        self.metrics.update(
            setup_s=setup_s,
            pass_s=statistics.median(passes[False]),
            op_gmean_s=statistics.geometric_mean(
                [statistics.median(v) for v in lat.values() if v]
            ),
            rows_per_s=work / sum(all_lat),
            peak_rss_mb=self.tree.peak_rss_mb(),
        )

    def per_layer(self, ops, traced_lat, job_counts, passes, cpu, span_ranges) -> None:
        from workloads import QueryWorkload, RestIngest

        m, tr, c = self.metrics, self.tracer, self.ctx.counters
        n_traced = len(passes[True])
        traced_wall = sum(passes[True])

        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        def in_window(name):
            return [d for lo, hi in span_ranges for d in tr.durations(name, lo, hi)]

        n_ops = sum(len(v) for v in traced_lat.values())
        selfs: dict[str, float] = {}
        for lo, hi in span_ranges:
            for layer, s in tr.self_times(lo, hi).items():
                selfs[layer] = selfs.get(layer, 0.0) + s
        for name in PER_LAYER:
            if name.startswith("self_s."):
                m[name] = selfs.get(name[len("self_s."):], 0.0) / n_traced
        m["session.scoped_released"] = c.get("session.scoped_released", 0) / max(1, n_ops)
        m["queries.build_s"] = mean(in_window("queries:build"))
        m["plans.force_evaluate_s"] = mean(in_window("plans:force_evaluate"))
        m["queries.build_jobs"] = mean([x["jobs"] for _, x in job_counts["build"]])
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            m[f"plans.{k}"] = mean([x[k] for _, x in job_counts["eval"]])
        m["exec.jvm_cpu_s"] = cpu["jvm"] / n_traced
        m["exec.python_cpu_s"] = cpu["py"] / n_traced
        total_cpu = cpu["jvm"] + cpu["py"]
        m["exec.python_cpu_share"] = cpu["py"] / total_cpu if total_cpu else 0.0
        m["exec.cpu_util"] = total_cpu / (traced_wall * self.ctx.nproc)
        m["tables.load_s"] = mean(tr.durations("tables:load"))
        if isinstance(self.wl, QueryWorkload):
            m["tables.scan_s"] = self.wl.table_scan_seconds()
        if isinstance(self.wl, RestIngest):
            self.connector_layers(ops, traced_lat, job_counts)
        m["trace.untraced_pass_s"] = statistics.median(passes[False])
        m["trace.traced_pass_s"] = statistics.median(passes[True])
        m["trace.overhead_s"] = m["trace.traced_pass_s"] - m["trace.untraced_pass_s"]
        m["ops.failed_frac"] = self.failed / self.attempted
        for name in PER_LAYER:
            m.setdefault(name, 0.0)

    def connector_layers(self, ops, traced_lat, job_counts) -> None:
        m, c, wl = self.metrics, self.ctx.counters, self.wl
        tasks_by_op: dict[str, list[int]] = {}
        for name, rec in job_counts["eval"]:
            tasks_by_op.setdefault(name, []).append(rec["tasks"])
        totals: dict[str, float] = {}
        served = 0
        scan_rows = scan_time = 0.0
        for op in ops:
            if op.name not in SCAN_OPS:
                continue
            d = wl.driver_fetch(op.name)
            served += d["served"]
            for k in ("plan_s", "partitions", "fetch_s", "requests", "pages", "bytes",
                      "decode_s", "rows", "skipped"):
                totals[k] = totals.get(k, 0) + d[k]
            scan_s = statistics.median(traced_lat[op.name])
            tasks = statistics.median(tasks_by_op.get(op.name, [0]))
            pre = f"sources.alpaca.{op.name}."
            m[pre + "scan_s"] = scan_s
            m[pre + "tasks"] = tasks
            m[pre + "fetch_s"] = d["fetch_s"]
            m[pre + "decode_s"] = d["decode_s"]
            m[pre + "overhead_s"] = scan_s - (d["fetch_s"] + d["decode_s"]) / max(
                1, min(tasks, self.ctx.nproc)
            )
            scan_rows += op.work_rows * len(traced_lat[op.name])
            scan_time += sum(traced_lat[op.name])
        m["sources.partitioning.plan_s"] = totals["plan_s"]
        m["sources.partitioning.partitions"] = totals["partitions"]
        m["sources.http.fetch_s"] = totals["fetch_s"]
        m["sources.http.requests"] = totals["requests"]
        m["sources.http.pages"] = totals["pages"]
        m["sources.http.bytes"] = totals["bytes"]
        m["sources.http.requests_per_page"] = served / totals["pages"]
        m["sources.wire.decode_s"] = totals["decode_s"]
        m["sources.wire.rows"] = totals["rows"]
        m["sources.wire.skipped"] = totals["skipped"]
        m["sources.alpaca.rows_per_s"] = scan_rows / scan_time
        writes = traced_lat["write_sink"]
        m["sources.sink.write_s"] = statistics.median(writes)
        m["sources.sink.posts"] = c["sink.posts"] / len(writes)
        m["sources.sink.commits"] = c["sink.commits"] / len(writes)
        m["sources.sink.rows_per_post"] = c["sink.rows"] / c["sink.posts"]
        m["sources.sink.rows_per_s"] = c["sink.rows"] / sum(writes)
        m["sources.replay.requests"] = c["replay.requests"] / len(writes)
        n = c["stream.ops"]
        streams = traced_lat["stream_roundtrip"]
        m["streaming.batches"] = c["stream.batches"] / n
        m["streaming.input_rows"] = c["stream.input_rows"] / n
        m["streaming.add_batch_ms"] = c["stream.addBatch"] / n
        m["streaming.query_planning_ms"] = c["stream.queryPlanning"] / n
        m["streaming.wal_commit_ms"] = c["stream.walCommit"] / n
        m["streaming.trigger_ms"] = c["stream.triggerExecution"] / n
        m["streaming.state_rows"] = c.get("stream.state_rows", 0) / n
        m["streaming.state_mem_bytes"] = c.get("stream.state_mem", 0) / n
        m["streaming.overhead_s"] = sum(streams) / n - m["streaming.trigger_ms"] / 1000
        m["streaming.rows_per_s"] = c["stream.input_rows"] / sum(streams)

    # -- driver -----------------------------------------------------------
    def run(self) -> dict:
        t0 = time.perf_counter()
        self.wl.prepare()
        t1 = time.perf_counter()
        setup_s = self.setup()
        ops = self.wl.ops()
        if self.args.tamper:
            ops[0].verify = lambda got: False
        t2 = time.perf_counter()
        self.tracer.enabled = False
        setup_s += self.check_pass(ops)
        for _ in range(self.wl.WARM_PASSES - 1):
            w0 = time.perf_counter()
            for op in ops:
                op.execute()
            setup_s += time.perf_counter() - w0
        t3 = time.perf_counter()
        lat, traced_lat, job_counts, passes, cpu, ranges = self.window(ops)
        log.info(
            "prepare %.1fs, setup %.1fs, check %.1fs, window %.1fs, passes %s",
            t1 - t0, t2 - t1, t3 - t2, time.perf_counter() - t3,
            [round(p, 2) for p in passes[False]],
        )
        log.info("op latencies %s", {k: [round(x, 3) for x in v] for k, v in lat.items()})
        if self.args.trace:
            self.per_layer(ops, traced_lat, job_counts, passes, cpu, ranges)
            self.tracer.write(HERE / "out" / f"trace_{self.args.workload}_s{self.args.seed}.json")
            names = PER_LAYER
        else:
            self.end_to_end(ops, lat, passes, setup_s)
            names = END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": self.metrics[k], "unit": u} for k, u in names.items()},
        }

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for every process of
        the tree to end."""
        from pyspark import SparkContext

        pids = self.tree.descendants()
        self.tree.stop()
        try:
            self.wl.close()
        finally:
            if self.ctx.spark is not None:
                self.ctx.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            deadline = time.monotonic() + 30
            while pids and time.monotonic() < deadline:
                pids = [p for p in pids if Path(f"/proc/{p}").exists()]
                time.sleep(0.1)
            for p in pids:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


def main(argv=None) -> int:
    from workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--tamper", action="store_true",
                    help="self-test: make the first op's check fail")
    args = ap.parse_args(argv)
    logging.basicConfig(stream=sys.stderr, format="perfbench %(levelname)s %(message)s")
    log.setLevel(logging.INFO)
    if not (ROOT / "alpaca_pyspark_spark" / "__init__.py").is_file():
        log.error("engine package alpaca_pyspark_spark not found in %s", ROOT)
        return 2
    work = HERE / ".work"
    shutil.rmtree(work, ignore_errors=True)
    nproc = configure_host(work)
    run = Run(args, work, nproc)
    try:
        result = run.run()
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
