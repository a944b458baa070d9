#!/usr/bin/env python3
"""The engine's benchmark: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 1 --trace 0

Run it from the repository root. It generates the workload's inputs for
the seed under ``perfbench/_work`` (cached per seed), starts a fresh
interpreter that sets up the program and runs the workload's passes on
``local[nproc]``, checks every op's output against the hash pinned in
``pinned.json``, and prints one JSON object as the last line of stdout.
With ``--trace 0`` it holds the end-to-end metrics; with ``--trace 1``
the per-layer metrics of a traced run (spans and Spark task metrics; the
full record goes to ``perfbench/_work/traces/``). Earlier lines give every
metric with its unit and sample count (timings are medians over the run's
passes). See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_for_ebook_classification_spark"
WORK = os.path.join(HERE, "_work")
#: wall-clock cap on the worker; the whole run must end within 180 s
WORKER_TIMEOUT_S = 165

sys.path.insert(0, HERE)

from worker import process_tree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: end-to-end metrics in the JSON result of an untraced run, the gated
#: ones. The others appear on the "#" lines only: cold_pass_s is one
#: sample per JVM, failed_op_ratio is 0 when the gate is green, and
#: wall-clock pass_s and rows_per_s move with CPU time the host's
#: hypervisor steals; a traced run reports those two ungated. See NOTES.md.
END_TO_END = ("setup_s", "pass_cpu_s")

#: per-layer metrics in the JSON result of a traced run: every metric of a
#: layer that each gated workload calls. plans.build (Query.fn) is not
#: called on ebook_classify, ml.* not on star_analytics, sources.write on
#: neither: their times and job counts, 0 by construction there, are on
#: the "#" lines and in the trace record only, and trace.build_s and
#: trace.build_jobs carry the build layer. pass_s and rows_per_s are the
#: untraced warm passes of the traced run, kept here ungated.
PER_LAYER = (
    "session.get_spark_s",
    "session.jvm_peak_rss_mb",
    "plans.registry_load_s",
    "plans.plan_s",
    "operators.execute_s",
    "operators.execute_jobs",
    "operators.stages",
    "operators.tasks",
    "operators.executor_run_s",
    "operators.executor_cpu_s",
    "operators.core_busy_ratio",
    "operators.shuffle_read_mb",
    "operators.shuffle_write_mb",
    "operators.spill_mb",
    "operators.gc_s",
    "operators.failed_task_ratio",
    "sources.scan_rows",
    "sources.scan_mb",
    "sources.scan_tasks",
    "sources.rescan_ratio",
    "trace.overhead_ratio",
    "trace.pass_s",
    "trace.layer_cover_ratio",
    "trace.build_s",
    "trace.build_jobs",
    "trace.build_share",
    "pass_s",
    "rows_per_s",
)


def unit(name: str) -> str:
    if name == "rows_per_s":
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def spark_conf_dir(traced: bool) -> str:
    """The benchmark's own Spark conf directory: keeps Spark's files in
    the work tree and, for a traced run, turns the event log on."""
    d = os.path.join(WORK, "conf-traced" if traced else "conf")
    os.makedirs(d, exist_ok=True)
    lines = [
        f"spark.sql.warehouse.dir {os.path.join(WORK, 'warehouse')}",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    ]
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{log_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(d, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return d


def run_worker(argv: list[str], env: dict, deadline: float) -> dict:
    """Run worker.py in its own process group; return the JSON it wrote.

    The worker and every process it started are killed and waited for,
    whatever happens."""
    out = os.path.join(WORK, "tmp", f"worker-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), "--out", out,
         "--spawn-time", repr(spawn), *argv],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    finally:
        _stop(proc)
    if code != 0:
        raise RuntimeError(f"worker exited with code {code}")
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    return res


def _stop(proc: subprocess.Popen) -> None:
    """Kill the worker's process group and the worker's descendants, which
    include PySpark's worker daemon and its Python workers in a group of
    their own; return when each has exited."""
    tree = process_tree(proc.pid)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    for _ in range(100):
        if not _group_alive(proc.pid) and not any(_running(pid) for pid in tree):
            return
        time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + WORKER_TIMEOUT_S

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "compare.py")
    ):
        print(f"error: run from a checkout that holds {PACKAGE}/ and tests/compare.py",
              file=sys.stderr)
        return 2
    import datagen

    workload = WORKLOADS[args.workload]
    t_data = time.perf_counter()
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    sf_dir = datagen.prepare(
        os.path.join(WORK, "data"), args.seed,
        sorted({t for op in workload.ops for t in op.tables}),
    )
    data_s = time.perf_counter() - t_data
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        SPARK_CONF_DIR=spark_conf_dir(bool(args.trace)),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    res = run_worker(
        ["--workload", workload.name, "--data", sf_dir, "--work", WORK,
         "--seconds", str(args.seconds), "--trace", str(args.trace)], env, deadline,
    )

    with open(os.path.join(HERE, "pinned.json")) as fh:
        pinned = json.load(fh).get(workload.name, {})
    mismatched = [op for op, h in res["hashes"].items() if h is not None and h != pinned.get(op)]
    failed = res["raised"] + len(mismatched)
    for e in res["errors"]:
        print(f"# error: {e}", file=sys.stderr)
    for op in mismatched:
        print(f"# mismatch: {op} got {res['hashes'][op]} pinned {pinned.get(op)}", file=sys.stderr)

    pass_s = statistics.median(res["pass_s"])
    e2e = {
        "setup_s": (res["setup_s"], "s", 1),
        "cold_pass_s": (res["cold_pass_s"], "s", 1),
        "pass_s": (pass_s, "s", len(res["pass_s"])),
        "pass_cpu_s": (statistics.median(res["pass_cpu_s"]), "s", len(res["pass_cpu_s"])),
        "rows_per_s": (res["declared_rows"] / pass_s, "rows/s", len(res["pass_s"])),
        "failed_op_ratio": (failed / res["attempted"], "ratio", res["attempted"]),
    }
    print(f"# {workload.name} seed={args.seed} parallelism={json.dumps(res['parallelism'])}")
    print(f"# untimed: input preparation {data_s:.3g} s, output check {res['check_s']:.3g} s")
    cold, warmup, *warm = res["op_seconds"]
    for op in cold:
        print(f"# op {op}: cold {cold[op]:.3g} s, warm-up {warmup[op]:.3g} s, "
              f"warm {[round(p[op], 3) for p in warm]} s")
    for name, (value, u, n) in e2e.items():
        print(f"# {name} = {value:.6g} {u} (n={n})")
    if args.trace:
        layers = res["layers"]
        for name in sorted(set(layers) - set(e2e)):
            print(f"# {name} = {layers[name]:.6g} {unit(name)}")
        metrics = {n: {"value": layers[n], "unit": unit(n)} for n in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n][0], "unit": e2e[n][1]} for n in END_TO_END}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
