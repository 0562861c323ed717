"""Workload driver: one process, one closed-loop client.

Started by ``perfbench/run.py``; run that instead. Phases:

1. inputs: the workload's data and expected results, from the seed
   (not part of ``setup_s``);
2. set-up (``setup_s``): imports, ``session.get_spark``, a first trivial
   job, the workload's Spark-side set-up, and one warm-up op of every kind;
3. timed phase: ops in a fixed cyclic order, one after another, until
   ``--seconds`` have passed and every kind has run; every op's result is
   checked after its clock stops;
4. traced runs only: a count cycle (each kind once, with job, task,
   partition and commit counters), per-cell micro-costs, per-layer self time.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sqlite3
import statistics
import sys
import time

from perfbench import data
from perfbench.common import (
    JobCounter, OpLog, Tracer, change_counter, db_bytes, micro_cost, run_op, summarize,
)

#: op id of the set-up spans, outside every op of the warm-up and timed phase
SETUP_OP = -1_000_000
LAYERS = ("client", "io", "sources", "codecs", "sql_rewrite", "operators", "spark")


def _workload(name: str, seed: int, workdir: str):
    if name == "spark_native":
        from perfbench.native import SparkNative

        return SparkNative(seed, workdir)
    from perfbench.bridge import Bridge

    return Bridge(seed, workdir)


def _host_reference() -> float:
    """Seconds for a fixed single-thread Python loop. The host's speed
    drifts between runs on a shared machine; this shows by how much."""
    t0 = time.perf_counter()
    total = 0
    for i in range(1_000_000):
        total += i
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args()
    os.makedirs(args.workdir, exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)

    wl = _workload(args.workload, args.seed, args.workdir)
    tracer = Tracer(bool(args.trace))
    host_ref = _host_reference()

    # ---- set-up -----------------------------------------------------------
    t_setup = time.perf_counter()
    tracer.begin_op(SETUP_OP)
    from sqlitedataframe_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", cpus=cpus)
    t_spark = time.perf_counter()
    with tracer.span("session.first_job"):
        spark.range(1000).selectExpr("sum(id)").collect()
    t_first = time.perf_counter()
    wl.start(spark, tracer, cpus)
    # the first call of a kind is 2-3x slower than later ones
    warm = OpLog(wl.kinds)
    for op_id, kind in enumerate(wl.kinds, start=-len(wl.kinds)):
        run_op(tracer, warm, op_id, kind, lambda: wl.op(kind))
    t_ready = time.perf_counter()
    setup_s = t_ready - t_setup

    # ---- timed phase ----------------------------------------------------------
    log = OpLog(wl.kinds)
    cycle = wl.cycle
    op_id = 0
    t0 = time.perf_counter()
    # at least one whole cycle, so that every kind has a sample
    while op_id < len(cycle) or time.perf_counter() - t0 < args.seconds:
        kind = cycle[op_id % len(cycle)]
        run_op(tracer, log, op_id, kind, lambda: wl.op(kind))
        op_id += 1
    wall = time.perf_counter() - t0

    attempted = log.attempted + warm.attempted
    failed = log.failed + warm.failed
    metrics, lines = summarize(log, args.workload)
    per_kind = [len(log.lat[k]) for k in wl.kinds]
    samples = f"{min(per_kind)}" if min(per_kind) == max(per_kind) else f"{min(per_kind)}-{max(per_kind)}"
    lines.insert(1, f"# timed phase {wall:.2f} s, seed {args.seed}, trace {args.trace}")
    lines.insert(1, f"# error_rate = {failed / attempted:.4f} (n={attempted}, warm-up included)")
    lines += wl.notes()
    lines.append(f"# host_ref_ms = {1000 * host_ref:.1f} ms (10^6 Python additions before set-up: "
                 "the host's speed at this run, not a metric of the program)")
    lines.append(f"# setup_s = {setup_s:.3f} s (get_spark {t_spark - t_setup:.3f} s, first job "
                 f"{t_first - t_spark:.3f} s, workload set-up and warm-up {t_ready - t_first:.3f} s)")
    lines += [f"# ops_per_s = {metrics['ops_per_s']:.4f} 1/s (balanced cycle of {len(wl.kinds)} kinds)",
              f"# p50_ms = {metrics['p50_ms']:.3f} ms (geometric mean of per-kind medians, "
              f"n={samples} per kind)"]
    if args.trace:
        layer, more = _traced(spark, wl, tracer, log, args)
        layer["session.get_spark_s"] = t_spark - t_setup
        layer["session.first_job_s"] = t_first - t_spark
        layer["session.warmup_s"] = t_ready - t_first
        lines += more
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in layer.items()}
    else:
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": metrics["ops_per_s"], "unit": "1/s"},
            "p50_ms": {"value": metrics["p50_ms"], "unit": "ms"},
        }
    spark.stop()
    for line in lines:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


UNITS = {
    "session.get_spark_s": "s", "session.first_job_s": "s", "session.warmup_s": "s",
    **{f"self_pct.{layer}": "%" for layer in LAYERS},
    **{f"sqlite_types.decode_ns_per_cell.{t}": "ns" for t in ("int", "float", "text", "blob", "bool", "date", "any")},
    "sqlite_types.encode_ns_per_cell": "ns",
    "sql_rewrite.translate_us": "us",
    "sources.read.partitions": "count",
    "sources.read.rows_per_op": "count",
    "sources.write.txn_per_krow": "count",
    "sources.write.bytes_per_user_byte": "B/B",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "plans.exchange_count": "count",
    "plans.scan_count": "count",
}


def _traced(spark, wl, tracer: Tracer, log: OpLog, args) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run."""
    from sqlitedataframe_spark.functions.sql_rewrite import translate_sqlite_sql
    from sqlitedataframe_spark.plans.introspect import exchange_count, scan_count
    from sqlitedataframe_spark.sqlite_types import SQLiteType, decode_cell, encode_cell

    out: dict[str, float] = {}
    lines = []
    # -- self time per layer over the timed ops ---------------------------------
    self_s = tracer.self_times(log.op_ids)
    total = sum(self_s.values())
    n_ops = len(log.op_ids)
    lines.append(f"# traced: layer self time over {n_ops} timed ops ({total:.3f} s)")
    for layer in LAYERS:
        out[f"self_pct.{layer}"] = 100.0 * self_s.get(layer, 0.0) / total
        lines.append(f"#   {layer}: {1000 * self_s.get(layer, 0.0) / n_ops:.3f} ms/op self "
                     f"({out[f'self_pct.{layer}']:.1f} %)")
    for name, v in sorted(tracer.name_times(log.op_ids).items()):
        if not name.startswith("client."):
            lines.append(f"#   {name}_ms: p50 {1000 * statistics.median(v):.3f} (n={len(v)})")

    # -- count cycle: each kind once, outside the timed phase --------------------
    counter = JobCounter(spark)
    db = getattr(wl, "db", None)
    c = dict(jobs=0, tasks=0, reads=0, parts=0, rows=0, written=0, txn=0, plans=0, exch=0, scans=0)
    for kind in wl.kinds:
        before = change_counter(db) if db else 0
        jobs: dict = {}
        with counter.count(jobs):
            rows, _ = wl.op(kind)
        c["jobs"] += jobs.get("jobs", 0)
        c["tasks"] += jobs.get("tasks", 0)
        df = wl.last_df
        if wl.kinds[kind].endswith("read"):
            c["reads"] += 1
            c["rows"] += rows
            c["parts"] += wl.read_df.rdd.getNumPartitions()
        if wl.rows_written(kind):
            c["written"] += wl.rows_written(kind)
            c["txn"] += change_counter(db) - before
        if df is not None:
            c["plans"] += 1
            c["exch"] += exchange_count(df)
            c["scans"] += scan_count(df)
    k = len(wl.kinds)
    out["spark.jobs_per_op"] = c["jobs"] / k
    out["spark.tasks_per_op"] = c["tasks"] / k
    out["sources.read.partitions"] = c["parts"] / c["reads"] if c["reads"] else 0.0
    out["sources.read.rows_per_op"] = c["rows"] / c["reads"] if c["reads"] else 0.0
    out["sources.write.txn_per_krow"] = 1000.0 * c["txn"] / c["written"] if c["written"] else 0.0
    out["plans.exchange_count"] = c["exch"] / c["plans"] if c["plans"] else 0.0
    out["plans.scan_count"] = c["scans"] / c["plans"] if c["plans"] else 0.0
    if db:
        disk, user = db_bytes(db)
        out["sources.write.bytes_per_user_byte"] = disk / user
    else:
        out["sources.write.bytes_per_user_byte"] = 0.0

    # -- driver-side micro-costs over the seed's bulk cells and statements ------
    # the cells as sqlite3 returns them: the storage classes the program sees
    cells_db = os.path.join(args.workdir, "cells.db")
    data.write_bulk_db(cells_db, (p[0] for p in data.bulk_rows(args.seed, 4000)))
    conn = sqlite3.connect(cells_db)
    try:
        cells = conn.execute("SELECT * FROM bulk ORDER BY id").fetchall()
    finally:
        conn.close()
    by_type = {
        "int": (SQLiteType.INT, [r[1] for r in cells]),
        "float": (SQLiteType.FLOAT, [r[2] for r in cells]),
        "text": (SQLiteType.TEXT, [r[3] for r in cells]),
        "blob": (SQLiteType.BLOB, [r[4] for r in cells]),
        "bool": (SQLiteType.BOOL, [r[5] for r in cells]),
        "date": (SQLiteType.DATE, [r[6] for r in cells]),
        "any": (SQLiteType.ANY, [r[7] for r in cells]),
    }
    for name, (t, values) in by_type.items():
        out[f"sqlite_types.decode_ns_per_cell.{name}"] = 1e9 * micro_cost(lambda v: decode_cell(v, t), values)
    write_values = [v for r in data.bulk_write_rows(args.seed, 2000) for v in r[:6]]
    out["sqlite_types.encode_ns_per_cell"] = 1e9 * micro_cost(encode_cell, write_values)
    from perfbench.native import SQL

    rng = random.Random(args.seed)
    stmts = [s.format(c=rng.randrange(1, 14000), x=1000, y=1995, y1=1996, d="1995-03-15", w="spark1")
             for s, _ in SQL.values()]
    out["sql_rewrite.translate_us"] = 1e6 * micro_cost(translate_sqlite_sql, stmts * 25)

    os.makedirs(".perfbench_out", exist_ok=True)
    path = os.path.join(".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl")
    tracer.dump(path)
    lines.append(f"# spans written to {path}")
    lines += [f"# {k} = {v:.6g} {UNITS[k]}" for k, v in out.items()]
    return out, lines


if __name__ == "__main__":
    sys.exit(main())
