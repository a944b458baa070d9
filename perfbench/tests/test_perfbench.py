"""The benchmark's own tests: result hashing, the seeded re-layout, span
self time, event-log totals and CPU accounting. Run from the repository
root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import datagen  # noqa: E402
from check import frame_hash, metrics_hash  # noqa: E402
from spans import (  # noqa: E402
    Span, Tracer, read_event_log, self_times, stage_totals, subtree,
)
from workloads import WORKLOADS  # noqa: E402

SF = 0.001


@pytest.fixture(autouse=True)
def small_scale(monkeypatch):
    monkeypatch.setattr(datagen, "SF", SF)


# ----------------------------------------------------------------- hashing


def test_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, None, 2.5]})
    b = a.iloc[[2, 0, 1]][["v", "k"]]
    assert frame_hash(a) == frame_hash(b)


def test_hash_sees_values_names_and_duplicates():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    assert frame_hash(a) != frame_hash(a.assign(v=[0.1, 0.2 + 1e-15]))
    assert frame_hash(a) != frame_hash(a.rename(columns={"v": "w"}))
    assert frame_hash(a) != frame_hash(pd.concat([a, a.iloc[[0]]]))


def test_hash_canonicalizes_like_the_oracle_comparison():
    # an int64 column and an object column of Python ints canonicalize alike,
    # NaN and None stay distinct, list cells hash by their elements
    x = pd.Series([math.nan, None], dtype=object)
    a = pd.DataFrame({"k": pd.Series([1, 2], dtype="int64"), "x": x})
    b = pd.DataFrame({"k": pd.Series([1, 2], dtype=object), "x": x})
    assert frame_hash(a) == frame_hash(b)
    assert frame_hash(a) != frame_hash(a.assign(x=pd.Series([None, math.nan], dtype=object)))
    lists = pd.DataFrame({"t": [[1, 2], [3]]})
    assert frame_hash(lists) != frame_hash(pd.DataFrame({"t": [[1], [2, 3]]}))


def test_metrics_hash_is_order_free():
    assert metrics_hash({"accuracy": 0.5, "f1": 0.25}) == metrics_hash({"f1": 0.25, "accuracy": 0.5})


# ---------------------------------------------------------------- generator


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_base_tables_are_a_function_of_scale():
    a, b = datagen.base_tables(), datagen.base_tables()
    assert set(a) == set(datagen.TABLES)
    for t in datagen.TABLES:
        assert a[t].equals(b[t]), t


def test_generates_exactly_the_declared_tables():
    declared = {t for w in WORKLOADS.values() for op in w.ops for t in op.tables}
    assert set(datagen.TABLES) == declared


def test_same_seed_gives_the_same_files(tmp_path):
    one = datagen.prepare(str(tmp_path / "one"), 7)
    two = datagen.prepare(str(tmp_path / "two"), 7)
    assert _files(one) == _files(two)


def test_relayout_keeps_rows_and_changes_layout(tmp_path):
    base = datagen.base_tables()
    s1 = datagen.prepare(str(tmp_path), 1)
    s2 = datagen.prepare(str(tmp_path), 2)
    for name, table in base.items():
        for sf_dir in (s1, s2):
            files = datagen.parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
            back = pa.concat_tables(pq.read_table(f) for f in files)
            assert back.num_rows == table.num_rows
            assert datagen.multiset_digest(back) == datagen.multiset_digest(table)
    lineitem = "lineitem.parquet/part-00000.parquet"
    assert _files(s1)[lineitem] != _files(s2)[lineitem]
    meta = pq.ParquetFile(os.path.join(s1, lineitem)).metadata
    assert meta.num_row_groups == datagen.ROW_GROUPS_PER_FILE
    files = datagen.parquet_files(os.path.join(s1, "lineitem.parquet"))
    assert len(files) == datagen.FILES_PER_TABLE


def test_prepare_writes_only_the_tables_asked_for(tmp_path):
    sf_dir = datagen.prepare(str(tmp_path), 4, ("documents",))
    assert os.listdir(sf_dir) == ["documents.parquet"]
    datagen.prepare(str(tmp_path), 4, ("documents", "orders"))
    assert sorted(os.listdir(sf_dir)) == ["documents.parquet", "orders.parquet"]


def test_prepare_keeps_a_bounded_seed_cache(tmp_path):
    for seed in range(datagen.CACHED_SEEDS + 2):
        datagen.prepare(str(tmp_path), seed, ("region",))
    kept = os.listdir(os.path.join(str(tmp_path), f"sf{SF}"))
    assert len(kept) == datagen.CACHED_SEEDS
    assert f"seed{datagen.CACHED_SEEDS + 1}" in kept


def test_check_table_rejects_changed_rows(tmp_path):
    base = datagen.base_tables()
    path = os.path.join(datagen.prepare(str(tmp_path), 3, ("orders",)), "orders.parquet")
    part = os.path.join(path, "part-00000.parquet")
    t = pq.read_table(part)
    changed = t.set_column(
        t.schema.get_field_index("o_totalprice"), "o_totalprice",
        pa.array([v + 0.01 for v in t.column("o_totalprice").to_pylist()]),
    )
    pq.write_table(changed, part)
    with pytest.raises(RuntimeError, match="orders: row multiset"):
        datagen.check_table("orders", base["orders"], path)
    pq.write_table(t.slice(1), part)
    with pytest.raises(RuntimeError, match="orders: .* rows on disk"):
        datagen.check_table("orders", base["orders"], path)


# -------------------------------------------------------------------- spans


def _fixture():
    # pass 0..10 ├─ op 0..6 ├─ plans.build 1..3 ─ execute 3..6
    #            └─ op 6..10 └─ plans.build 6..9.5
    return [
        Span(0, "pass", None, None, 0.0, 10.0),
        Span(1, "op", 0, 0, 0.0, 6.0),
        Span(2, "plans.build", 1, 0, 1.0, 3.0, jobs=[0, 1]),
        Span(3, "operators.execute", 1, 0, 3.0, 6.0, jobs=[2]),
        Span(4, "op", 0, 1, 6.0, 10.0),
        Span(5, "plans.build", 4, 1, 6.0, 9.5),
    ]


def test_self_time_subtracts_direct_children():
    st = self_times(_fixture())
    assert st == pytest.approx({0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 4: 0.5, 5: 3.5})
    assert sum(st.values()) == pytest.approx(10.0)


def test_subtree_collects_descendants():
    assert sorted(s.sid for s in subtree(_fixture(), 1)) == [1, 2, 3]


def test_tracer_nests_and_shares_op_ids():
    t = Tracer()
    with t.span("pass"):
        for _ in range(2):
            with t.span("op"):
                with t.span("plans.build"):
                    pass
    names = [(s.name, s.parent, s.op_exec) for s in t.spans]
    assert names == [
        ("pass", None, None), ("op", 0, 0), ("plans.build", 1, 0),
        ("op", 0, 1), ("plans.build", 3, 1),
    ]
    assert all(s.end >= s.start for s in t.spans)


def test_event_log_totals_count_each_stage_once(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2]},
    ]
    for stage, run_ms, reason in ((0, 100, "Success"), (1, 50, "Success"),
                                  (1, 70, "ExceptionFailure")):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1},
        })
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    tot = stage_totals([0, 1], read_event_log(str(log)))
    assert (tot.stages, tot.tasks, tot.failed_tasks) == (2, 3, 1)
    assert (tot.run_ms, tot.gc_ms) == (220, 3)


def test_scan_bytes_follow_the_rows_of_each_scan_node(tmp_path):
    # a scan node posts its files' size once; every later execution of the
    # same plan, in an SQL execution or an RDD job, counts the size again
    # in proportion to the rows it read; cached-block reads are no scan
    ui = "org.apache.spark.sql.execution.ui."
    scan = {"nodeName": "Scan parquet", "children": [], "metrics": [
        {"name": "number of output rows", "accumulatorId": 10},
        {"name": "size of files read", "accumulatorId": 11},
    ]}
    plan = {"nodeName": "Filter", "children": [scan], "metrics": [
        {"name": "number of output rows", "accumulatorId": 20},
    ]}

    def task(stage, rows):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "Success"},
                "Task Metrics": {"Input Metrics": {"Records Read": rows}},
                "Task Info": {"Accumulables": [
                    {"ID": 10, "Name": "number of output rows", "Update": str(rows)},
                    {"ID": 20, "Name": "number of output rows", "Update": "1"},
                ]}}

    events = [
        {"Event": ui + "SparkListenerSQLExecutionStart", "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0]},
        {"Event": ui + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[11, 4000], [20, 99]]},
        task(0, 300), task(0, 100),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2]},  # an RDD job
        task(1, 200),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Input Metrics": {"Records Read": 50}}, "Task Info": {"Accumulables": [
             {"ID": 30, "Name": "number of output rows", "Update": "50"}]}},
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    parsed = read_event_log(str(log))
    first, rdd = stage_totals([0], parsed), stage_totals([1], parsed)
    assert (first.scan_rows, first.scan_b, first.scan_tasks) == (400, pytest.approx(4000), 2)
    assert (rdd.scan_rows, rdd.scan_b, rdd.scan_tasks) == (200, pytest.approx(2000), 1)


# ------------------------------------------------------------ CPU accounting


def test_tree_cpu_counts_python_udf_workers(tmp_path):
    # PySpark's worker daemon puts itself and its workers in a process
    # group of their own; their CPU must count all the same
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from worker import tree_cpu_s

    def _burn(_):  # defined here so that it is pickled by value
        import time

        t0 = time.process_time()
        while time.process_time() - t0 < 1.5:
            pass
        return time.process_time() - t0

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.warehouse.dir", str(tmp_path / "warehouse"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        burn = F.udf(_burn, T.DoubleType())
        df = spark.range(4, numPartitions=2)
        df.select(burn("id")).collect()  # starts the Python workers
        before = tree_cpu_s()
        burned = sum(r[0] for r in df.select(burn("id")).collect())
        counted = tree_cpu_s() - before
    finally:
        spark.stop()
    assert burned >= 5.9
    assert counted >= 0.9 * burned


def test_stop_kills_descendants_in_other_process_groups():
    # the way PySpark's daemon leaves the group of the process that started it
    import subprocess
    import time

    from run import _running, _stop
    from worker import process_tree

    script = (
        "import os, subprocess, sys, time\n"
        "child = subprocess.Popen([sys.executable, '-c', "
        "'import os, time; os.setpgid(0, 0); time.sleep(60)'])\n"
        "print(child.pid, flush=True)\n"
        "time.sleep(60)\n"
    )
    proc = subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    grandchild = int(proc.stdout.readline())
    for _ in range(50):  # until the grandchild has left the group
        if os.getpgid(grandchild) == grandchild:
            break
        time.sleep(0.1)
    assert os.getpgid(grandchild) != proc.pid
    assert grandchild in process_tree(proc.pid)
    _stop(proc)
    proc.stdout.close()
    assert not _running(proc.pid) and not _running(grandchild)
