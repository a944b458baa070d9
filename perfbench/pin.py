#!/usr/bin/env python3
"""Recompute the pinned result hashes in ``pinned.json``.

    python3 perfbench/pin.py [workload ...]

For each workload it runs one pass on the base layout and on two seeded
re-layouts, and requires every op's hash to agree across them. For every op
with oracle SQL in the registry it also requires the hash to equal
DuckDB's result on the base files. Only then does it write the hashes.
Run it after a change that is meant to change an op's result.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import datagen  # noqa: E402
from check import frame_hash  # noqa: E402
from spans import NullTracer  # noqa: E402
from worker import Runner, _program  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORK = os.path.join(HERE, "_work")
CHECK_SEEDS = (1, 2)


def oracle_hashes(registry, workload, sf_dir: str) -> dict[str, str]:
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
    out = {}
    for op in workload.ops:
        q = registry.all_queries().get(op.name)
        if q is not None and q.oracle:
            out[op.name] = frame_hash(con.sql(q.oracle).df())
    return out


def main(names: list[str]) -> int:
    get_spark, registry, pipeline, io = _program()
    spark = get_spark("perfbench-pin")
    queries = registry.all_queries()
    path = os.path.join(HERE, "pinned.json")
    with open(path) as fh:
        pinned = json.load(fh)
    ok = True
    for name in names or list(WORKLOADS):
        w = WORKLOADS[name]
        data = os.path.join(WORK, "data")
        base = datagen.prepare(data, None)
        layouts = [base] + [datagen.prepare(data, s) for s in CHECK_SEEDS]
        runs = []
        for sf_dir in layouts:
            r = Runner(spark, queries, pipeline, io, w, sf_dir,
                       os.path.join(WORK, "out", "pin", name), NullTracer())
            r.run_pass()
            for e in r.errors:
                print(f"{name}: {e}", file=sys.stderr)
            runs.append(r.result_hashes())
        oracle = oracle_hashes(registry, w, base)
        for op in w.ops:
            seen = {h[op.name] for h in runs}
            agree = len(seen) == 1 and None not in seen and "ERROR" not in seen
            match = op.name not in oracle or oracle[op.name] == runs[0][op.name]
            print(f"{name}/{op.name}: {sorted(map(str, seen))} oracle={oracle.get(op.name, '-')}"
                  f" {'OK' if agree and match else 'FAIL'}")
            ok &= agree and match
        pinned[name] = runs[0]
    spark.stop()
    if not ok:
        print("not written: hashes disagree", file=sys.stderr)
        return 1
    with open(path, "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
