"""One benchmark run in a fresh interpreter, started by ``run.py``.

It sets up the program (imports, ``session.get_spark``,
``plans.registry.all_queries``), runs one cold pass, one unmeasured
warm-up pass and then measured warm passes of the workload's ops for the
given number of seconds, hashes the outputs of the last pass, and writes
what it measured as JSON to ``--out``. Every pass runs the same fixed
list of ops back to back from this one driver thread (a closed loop with
one client); the only concurrency is Spark's own ``local[N]`` task
threads.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback


#: measured warm passes per run at least: a pass's CPU time still varies
#: by a tenth from one pass to the next, and the median of a fixed count
#: keeps runs with slow and fast passes comparable
MIN_PASSES = 2


def _program():
    from pyspark_for_ebook_classification_spark.ml import pipeline
    from pyspark_for_ebook_classification_spark.plans import registry
    from pyspark_for_ebook_classification_spark.session import get_spark
    from pyspark_for_ebook_classification_spark.sources import io

    return get_spark, registry, pipeline, io


class Runner:
    """Runs a workload's ops through the program's public entry points."""

    def __init__(self, spark, queries, pipeline, io, workload, sf_dir, out_dir, tracer):
        self.spark = spark
        self.queries = queries
        self.pipeline = pipeline
        self.io = io
        self.workload = workload
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.tracer = tracer
        self.plan = False  # force Catalyst planning in its own span
        self.attempted = 0
        self.raised = 0
        self.errors: list[str] = []
        self.last: dict[str, tuple] = {}
        self.op_seconds: list[dict[str, float]] = []  # per pass
        self.cpu_seconds: list[float] = []  # per pass

    def _classify(self, op):
        t, p, io = self.tracer, self.pipeline, self.io
        with t.span("ml.split"):
            docs = io.load(self.spark, self.sf_dir, "documents").select("doc_id", "text", "lang")
            train, test = p.split_train_test(docs)
        with t.span("ml.fit"):
            model = p.fit_text_classifier(train, p.TextClassifierConfig(classifier=op.classifier))
        with t.span("ml.transform"):
            preds = model.transform(test).select("doc_id", "label", "prediction")
        return preds

    def run_op(self, op) -> None:
        t = self.tracer
        if op.classifier:
            df = self._classify(op)
        else:
            with t.span("plans.build"):
                df = self.queries[op.name].fn(self.spark, self.sf_dir)
        if self.plan:
            with t.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
        if op.sink == "parquet":
            path = os.path.join(self.out_dir, op.name)
            with t.span("sources.write"):
                self.io.write_parquet(df, path)
            output = ("parquet", path)
        else:
            with t.span("operators.execute"):
                df.write.mode("overwrite").format("noop").save()
            output = ("frame", df)
        metrics = None
        if op.classifier:
            with t.span("ml.evaluate"):
                metrics = self.pipeline.evaluate(df)
        self.last[op.name] = (*output, metrics)

    def run_pass(self, **attrs) -> float:
        """Run every op once; return the pass's wall seconds."""
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        seconds = {}
        with self.tracer.span("pass", **attrs):
            for op in self.workload.ops:
                self.attempted += 1
                t_op = time.perf_counter()
                try:
                    with self.tracer.span("op", op=op.name):
                        self.run_op(op)
                except Exception:  # an op that raises is counted, the pass goes on
                    self.raised += 1
                    self.errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
                    self.last.pop(op.name, None)
                seconds[op.name] = time.perf_counter() - t_op
        wall = time.perf_counter() - t0
        self.cpu_seconds.append(tree_cpu_s() - cpu0)
        self.op_seconds.append(seconds)
        return wall

    def result_hashes(self) -> dict[str, str | None]:
        """Hash each op's output from the last pass: None where the op
        raised in that pass, "ERROR" where reading its output raised."""
        from check import frame_hash, metrics_hash

        out: dict[str, str | None] = {}
        for op in self.workload.ops:
            kind, obj, metrics = self.last.get(op.name, (None, None, None))
            try:
                if kind == "parquet":
                    out[op.name] = frame_hash(self.spark.read.parquet(obj).toPandas())
                elif kind == "frame":
                    h = frame_hash(obj.toPandas())
                    out[op.name] = h + ("/" + metrics_hash(metrics) if metrics else "")
                else:
                    out[op.name] = None
            except Exception:
                self.errors.append(f"{op.name} check: {traceback.format_exc(limit=3)}")
                out[op.name] = "ERROR"
        return out


def _processes() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, CPU ticks of the process and of the children it
    has reaped), for every process in /proc."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2:].split()  # from field 3, state
        # field 4 ppid; fields 14-17 utime stime cutime cstime
        out[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def process_tree(root: int, procs: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """``root`` and all its descendants, found by parent pid.

    Not by process group: PySpark's worker daemon moves itself and the
    Python workers it forks into a group of their own."""
    procs = _processes() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (parent, _) in procs.items():
        kids.setdefault(parent, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants:
    this interpreter, its JVM, PySpark's worker daemon and the Python
    workers it forks, each with the children it has reaped.

    The daemon ignores SIGCHLD, so a Python worker that exits is reaped
    without adding its time to anyone: the CPU of a worker that exits
    between two readings is lost. PySpark reuses its workers
    (``spark.python.worker.reuse``) and stops idle ones only after a
    minute, so within a pass they live. Unlike wall time, CPU time leaves
    out time a hypervisor steals from the host's CPUs, which the kernel
    accounts as steal, not to a process."""
    procs = _processes()
    ticks = sum(procs[pid][1] for pid in process_tree(os.getpid(), procs) if pid in procs)
    return ticks / os.sysconf("SC_CLK_TCK")


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def table_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq
    from datagen import parquet_files

    files = parquet_files(os.path.join(sf_dir, f"{table}.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def layer_metrics(tracer, pass_ids, log, declared_rows, cores) -> dict:
    """Per-layer metrics of each traced pass, as the median over passes."""
    from spans import BUILD_SPANS, LAYER_SPANS, self_times, stage_totals, subtree

    selft = self_times(tracer.spans)
    per_pass = []
    for pid in pass_ids:
        spans = subtree(tracer.spans, pid)
        wall = next(s.end - s.start for s in spans if s.sid == pid)
        by = {name: [s for s in spans if s.name == name] for name in LAYER_SPANS}
        sec = {name: sum(selft[s.sid] for s in ss) for name, ss in by.items()}
        jobs = {name: [j for s in ss for j in s.jobs] for name, ss in by.items()}
        all_jobs = [j for s in spans for j in s.jobs]
        ex = stage_totals(jobs["operators.execute"], log)
        wr = stage_totals(jobs["sources.write"], log)
        tot = stage_totals(all_jobs, log)
        if tot.scan_b < tot.scan_rows:  # the scans' file sizes were not seen
            raise RuntimeError(f"scan bytes implausible: {tot.scan_b:.0f} bytes for "
                               f"{tot.scan_rows:.0f} rows scanned, under 1 byte per row")
        mb = 1024.0 * 1024.0
        per_pass.append({
            "plans.build_s": sec["plans.build"],
            "plans.build_jobs": len(jobs["plans.build"]),
            "plans.plan_s": sec["plans.plan"],
            "ml.split_s": sec["ml.split"],
            "ml.fit_s": sec["ml.fit"],
            "ml.fit_jobs": len(jobs["ml.fit"]),
            "ml.transform_s": sec["ml.transform"],
            "ml.evaluate_s": sec["ml.evaluate"],
            "ml.evaluate_jobs": len(jobs["ml.evaluate"]),
            "operators.execute_s": sec["operators.execute"],
            "operators.execute_jobs": len(jobs["operators.execute"]),
            "operators.stages": ex.stages,
            "operators.tasks": ex.tasks,
            "operators.executor_run_s": ex.run_ms / 1e3,
            "operators.executor_cpu_s": ex.cpu_ns / 1e9,
            "operators.core_busy_ratio": ex.run_ms / 1e3 / max(sec["operators.execute"] * cores, 1e-9),
            "operators.shuffle_read_mb": tot.shuffle_read_b / mb,
            "operators.shuffle_write_mb": tot.shuffle_write_b / mb,
            "operators.spill_mb": tot.spill_b / mb,
            "operators.gc_s": tot.gc_ms / 1e3,
            "operators.failed_task_ratio": tot.failed_tasks / max(tot.tasks, 1),
            "sources.scan_rows": tot.scan_rows,
            "sources.scan_mb": tot.scan_b / mb,
            "sources.scan_tasks": tot.scan_tasks,
            "sources.rescan_ratio": tot.scan_rows / declared_rows,
            "sources.write_s": sec["sources.write"],
            "sources.write_mb": wr.output_b / mb,
            "trace.pass_s": wall,
            "trace.layer_cover_ratio": sum(sec.values()) / wall,
            "trace.build_s": sum(sec[n] for n in BUILD_SPANS),
            "trace.build_jobs": sum(len(jobs[n]) for n in BUILD_SPANS),
            "trace.build_share": sum(sec[n] for n in BUILD_SPANS) / wall,
        })
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def op_splits(tracer) -> list[dict]:
    """Per op execution: build, plan and execute seconds and job counts."""
    from spans import BUILD_SPANS

    out = []
    for op in (s for s in tracer.spans if s.name == "op"):
        kids = [s for s in tracer.spans if s.parent == op.sid]
        row = {"op": op.attrs["op"], "op_exec": op.op_exec, "wall_s": op.end - op.start}
        for label, names in (
            ("build", BUILD_SPANS),
            ("plan", ("plans.plan",)),
            ("execute", ("operators.execute", "sources.write")),
        ):
            ks = [s for s in kids if s.name in names]
            row[f"{label}_s"] = sum(s.end - s.start for s in ks)
            row[f"{label}_jobs"] = sum(len(s.jobs) for s in ks)
        out.append(row)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    args = ap.parse_args()

    t0 = time.perf_counter()
    get_spark, registry, pipeline, io = _program()
    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    queries = registry.all_queries()
    t3 = time.perf_counter()
    setup_s = time.time() - args.spawn_time

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spans import NullTracer, Tracer, find_event_log, read_event_log, write_record
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    declared_rows = sum(table_rows(args.data, t) for op in workload.ops for t in op.tables)
    out_dir = os.path.join(args.work, "out", workload.name)
    runner = Runner(spark, queries, pipeline, io, workload, args.data, out_dir, NullTracer())

    cold_pass_s = runner.run_pass()
    # one unmeasured warm-up pass: the JIT compiles through the first pass
    # after the cold one, which takes about 1.5x the CPU of the third
    runner.run_pass()
    passes: list[float] = []
    passes_cpu: list[float] = []
    traced: list[float] = []
    tracer = Tracer(sc) if args.trace else None
    t_steady = time.perf_counter()
    passes.append(runner.run_pass())
    passes_cpu.append(runner.cpu_seconds[-1])
    # whole passes until --seconds have gone by, and at least MIN_PASSES; a
    # traced run brackets each traced pass with untraced ones, so the
    # overhead ratio compares passes at the same point of the JVM's warm-up
    while (time.perf_counter() - t_steady < args.seconds or len(passes) < MIN_PASSES
           or (tracer is not None and not traced)):
        if tracer is not None:
            runner.tracer, runner.plan = tracer, True
            traced.append(runner.run_pass(traced=True))
            runner.tracer, runner.plan = NullTracer(), False
        passes.append(runner.run_pass())
        passes_cpu.append(runner.cpu_seconds[-1])
    t_check = time.perf_counter()
    hashes = runner.result_hashes()
    check_s = time.perf_counter() - t_check
    rss_mb = _jvm_peak_rss_mb(spark)
    app_id = sc.applicationId
    parallelism = {
        "master": sc.master,
        "default_parallelism": cores,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": os.cpu_count(),
    }
    spark.stop()

    result = {
        "setup_s": setup_s,
        "setup_parts": {"import_s": t1 - t0, "get_spark_s": t2 - t1, "registry_load_s": t3 - t2},
        "cold_pass_s": cold_pass_s,
        "pass_s": passes,
        "pass_cpu_s": passes_cpu,
        "declared_rows": declared_rows,
        "attempted": runner.attempted,
        "raised": runner.raised,
        "errors": runner.errors,
        "hashes": hashes,
        "check_s": check_s,
        "op_seconds": runner.op_seconds,
        "parallelism": parallelism,
    }
    if tracer is not None:
        log_dir = os.path.join(args.work, "eventlog")
        log = find_event_log(log_dir, app_id)
        event_log = read_event_log(log)
        os.remove(log)
        pass_ids = [s.sid for s in tracer.spans if s.name == "pass"]
        layers = layer_metrics(tracer, pass_ids, event_log, declared_rows, cores)
        layers["session.get_spark_s"] = t2 - t1
        layers["session.jvm_peak_rss_mb"] = rss_mb
        layers["plans.registry_load_s"] = t3 - t2
        layers["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(passes) - 1
        layers["pass_s"] = statistics.median(passes)
        layers["rows_per_s"] = declared_rows / layers["pass_s"]
        result["layers"] = layers
        write_record(os.path.join(args.work, "traces", f"{workload.name}.json"), {
            "workload": workload.name,
            "spans": tracer.spans,
            "ops": op_splits(tracer),
            "layers": layers,
        })
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
