"""Benchmark runner: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload incremental_refresh --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` alternates untraced and traced operations and
reports per-layer metrics plus the tracing overhead. The last line of
standard output is one JSON object; the lines before it print every
metric by name with its unit. Exits non-zero if any operation fails or
any output is wrong. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_OPS = 3
MIN_OPS_TRACED = 4  # two traced, two untraced
GEN_REPEATS = 3

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}

# per-layer metric -> unit; every traced run prints all of them (0 = idle layer)
PER_LAYER = {
    "readers.bytes_read": "bytes", "readers.files_read": "count", "readers.rows_read": "count",
    "readers.scan_s": "s",
    "sinks.write_s": "s", "sinks.commit_s": "s", "sinks.files_written": "count",
    "sinks.bytes_written": "bytes", "sinks.upsert_rows_rewritten_per_delta_row": "ratio",
    "reference_pipelines.replicate_s": "s", "reference_pipelines.clean_s": "s",
    "reference_pipelines.marts_s": "s", "reference_pipelines.dupes_removed_ratio": "ratio",
    "operators.percentile_trim_s": "s", "operators.percentile_kept_ratio": "ratio",
    "operators.daily_avg_s": "s", "operators.topk_s": "s",
    "ivm.refresh_s": "s", "ivm.mart_rows": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "quality.gate_s": "s",
    "queries.plan_s": "s", "queries.exec_s": "s", "queries.jobs_per_call": "count",
    "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.jobs": "count",
    "spark.tasks": "count", "spark.gc_s": "s", "stage.bytes_staged": "bytes",
    "trace.unattributed_s": "s", "trace.coverage": "ratio", "trace.overhead_s": "s",
}

# span name -> per-layer self-time metric
SPAN_METRIC = {
    "sinks.write": "sinks.write_s", "sinks.upsert": "sinks.write_s",
    "sinks.overwrite_window": "sinks.write_s",
    "reference_pipelines.replicate": "reference_pipelines.replicate_s",
    "reference_pipelines.clean": "reference_pipelines.clean_s",
    "reference_pipelines.marts": "reference_pipelines.marts_s",
    "operators.percentile_trim": "operators.percentile_trim_s",
    "operators.daily_avg": "operators.daily_avg_s", "operators.topk": "operators.topk_s",
    "ivm.refresh": "ivm.refresh_s", "quality.gate": "quality.gate_s",
    "queries.plan": "queries.plan_s", "queries.exec": "queries.exec_s",
    "op": "trace.unattributed_s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS plus this Python process's max RSS."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


class Harness:
    def __init__(self, args) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "jvm-tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, d))
        # the package's stage root (_stage) lives under the temp dir, and
        # Spark's block manager under SPARK_LOCAL_DIRS, which wins over
        # spark.local.dir when the environment already sets it
        tempfile.tempdir = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")

    def start_spark(self) -> None:
        from hse_etl_ochirov_aldar_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # let AQE coalesce the output of persisted stages as it does
                # for uncached plans, so the layer barriers add no tasks
                "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
                "spark.sql.ui.retainedExecutions": "1000000",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.driver.memory": "1g",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a fixed-size heap, so the RSS high-water mark does not
                # depend on when G1 chose to grow the heap
                "spark.driver.extraJavaOptions":
                    "-Xms1g -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'jvm-tmp')} "
                    f"-Dderby.system.home={self.work}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        """Stop the session, wait for the JVM it launched to exit, and
        remove the work directory."""
        if hasattr(self, "spark"):
            self._stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)

    def _stop_spark(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args) -> int:
    from tracing import SparkCounters, Tracer, median, self_times, tail_percentile

    from workloads import WORKLOADS, dir_bytes

    from hse_etl_ochirov_aldar_spark import _stage

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    h = Harness(args)
    try:
        t0 = time.perf_counter()
        h.start_spark()
        session_s = time.perf_counter() - t0
        spark = h.spark
        h.tracer = Tracer(enabled=False)
        h.counters = SparkCounters(spark)
        wl = WORKLOADS[args.workload](h)

        gen_times = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            wl.generate()
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        warm = wl.warmup_ops
        for i in range(warm):
            wl.after_op(wl.op(i), False)
            spark.catalog.clearCache()
            _stage.purge_stage_root()
        setup_s = session_s + median(gen_times) + (time.perf_counter() - t)

        lat_untraced, lat_traced, sums, traced_ops = [], [], {}, 0
        failed, i = 0, warm
        e_first = h.counters.next_execution_id()
        measured_bytes_in = 0
        start = time.perf_counter()
        while True:
            traced = h.trace and (i - warm) % 2 == 1
            h.tracer.enabled, h.tracer.run_id = traced, i
            if traced:
                gc0, e0, n_spans = h.counters.gc_seconds(), h.counters.next_execution_id(), len(h.tracer.spans)
            t = time.perf_counter()
            try:
                with h.tracer.span("op"):
                    state = wl.op(i)
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            dt = time.perf_counter() - t
            (lat_traced if traced else lat_untraced).append(dt)
            measured_bytes_in += wl.last_op_input_bytes()
            if traced:
                h.tracer.enabled = False
                layer = {"stage.bytes_staged": float(dir_bytes(_stage.stage_root(spark)))}
                layer.update(h.counters.collect(e0, h.counters.next_execution_id()))
                layer["spark.gc_s"] = h.counters.gc_seconds() - gc0
                spans = h.tracer.spans[n_spans:]
                layer["queries.calls"] = sum(1 for sp in spans if sp.name == "queries.plan")
                own = self_times(spans)
                layer["trace.op_s"] = sum(own.values())
                for name, secs in own.items():
                    if name in SPAN_METRIC:
                        key = SPAN_METRIC[name]
                        layer[key] = layer.get(key, 0.0) + secs
            wl.after_op(state, traced)
            if traced:
                layer.update(wl.extras)
                for k, v in layer.items():
                    sums[k] = sums.get(k, 0.0) + v
                traced_ops += 1
            spark.catalog.clearCache()
            _stage.purge_stage_root()
            i += 1
            n = i - warm
            if (time.perf_counter() - start >= h.seconds
                    and n >= (MIN_OPS_TRACED if h.trace else MIN_OPS) and n % wl.cycle == 0):
                break
        e_last = h.counters.next_execution_id()
        attempted = i - warm + (1 if failed else 0)
        rss = peak_rss_mb(spark)  # before the check, whose DuckDB work is not the workload's

        problems = wl.check() if not failed else ["an operation raised"]
        for p in problems:
            print(f"# WRONG {wl.name}: {p}", file=sys.stderr)
        if problems and not failed:
            failed = wl.wrong_ops(range(warm, i))
        correct = not problems and failed == 0

        lat = lat_untraced
        p50 = median(lat) if lat else float("nan")
        if h.trace:
            spans_dir = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            h.tracer.write(os.path.join(spans_dir, f"{wl.name}-seed{h.seed}.jsonl"))
            n_ops = max(1, traced_ops)
            layer = {k: sums.get(k, 0.0) / n_ops for k in PER_LAYER}
            calls = sums.get("queries.calls", 0)
            layer["queries.jobs_per_call"] = sums.get("spark.jobs", 0.0) / calls if calls else 0.0
            op_s = sums.get("trace.op_s", 0.0) / n_ops
            layer["trace.coverage"] = 1.0 - layer["trace.unattributed_s"] / op_s if op_s else 0.0
            layer["trace.overhead_s"] = (median(lat_traced) if lat_traced else float("nan")) - p50
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
            for k, u in PER_LAYER.items():
                print(f"# {wl.name} {k} = {layer[k]:.6g} {u}")
            print(f"# {wl.name} traced ops = {len(lat_traced)}, untraced ops = {len(lat_untraced)}")
        else:
            written = h.counters.collect(e_first, e_last, tasks=False).get("sinks.bytes_written", 0.0)
            write_amp = written / measured_bytes_in
            e2e = {"setup_s": setup_s, "op_p50_s": p50, "peak_rss_mb": rss}
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
            tail = tail_percentile(lat)
            if tail and tail[0] < 50:  # under 20 samples the "tail" is not above the median
                tail = None
            table = {"setup_s": (setup_s, "s"), f"{wl.op_label}_p50_s": (p50, "s"),
                     f"{wl.op_label}_tail_s": tail}
            table.update(wl.report(p50, write_amp))
            table["failed_ratio"] = (failed / attempted, "ratio")
            table["peak_rss_mb"] = (rss, "MB")
            for k, v in table.items():
                if k.endswith("_tail_s"):
                    print(f"# {wl.name} {k} = " + (f"{v[1]:.6g} s at p{v[0]} of {len(lat)} samples"
                                                   if v else f"n/a: {len(lat)} samples, a tail above the median needs 20"))
                else:
                    print(f"# {wl.name} {k} = {v[0]:.6g} {v[1]}")
            print(f"# {wl.name} operations = {len(lat)}, op_p50_s = {p50:.6g} s, "
                  f"latencies_s = {[round(x, 3) for x in lat]}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        h.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
