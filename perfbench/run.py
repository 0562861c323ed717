"""Benchmark launcher: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload bridge --seed 1 --seconds 15 --trace 0

Run it from the root of a source checkout. The launcher starts the
workload driver (``perfbench.driver``) as a child process in its own
session, with the package importable through ``PYTHONPATH`` (as an
installed package would be), a bounded JVM heap and every scratch file
inside ``.perfbench_run/`` of the checkout. While the child runs, the
launcher samples the resident memory of the child's whole process tree
(Python driver, JVM, Python workers) for ``peak_pss_mb``. When the child
exits, every process left in its session is stopped and waited for.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; see README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_run"
WORKLOADS = ("bridge", "spark_native")
#: Wall-clock limit for one run, set-up included; stopping takes at most 10 s more.
CHILD_TIMEOUT_S = 160
#: JVM heap bound: with the program's 48g default, heap growth before GC
#: (not the workload) would set peak memory.
DRIVER_MEMORY = "1g"
#: JIT tiers of the driver JVM. With C2 on, op latencies keep falling for a
#: minute or more after warm-up while C2 compiles Spark's planner, so a short
#: timed phase would measure how far the compiler had got. With C1 alone
#: they level off after the first timed cycle (see README, "Noise control").
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"
MEM_SAMPLE_S = 0.2


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name: state ppid pgrp session
        fields = stat[stat.rfind(b")") + 2 :].split()
        if int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def _tree_pss_bytes(sid: int) -> int:
    """Proportional set size of the session: a page shared by forked
    Python workers counts once, where summing RSS would count it per worker."""
    total = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler(threading.Thread):
    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.stopped = threading.Event()

    def run(self) -> None:
        while not self.stopped.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(self.sid))
            self.stopped.wait(MEM_SAMPLE_S)


def _stop_session(sid: int) -> None:
    """Stop every process left in the child's session and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline and _session_pids(sid):
            time.sleep(0.1)


def _child_env() -> dict[str, str]:
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=str(ROOT),
        PYTHONHASHSEED="0",
        TZ="UTC",
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTIONS}'",
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'}",
                "pyspark-shell",
            ]
        ),
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    if not (ROOT / "sqlitedataframe_spark" / "__init__.py").is_file():
        print(f"perfbench: no sqlitedataframe_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    # stopped from outside, the launcher still stops the child's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # a fresh database and scratch directory per run
    shutil.rmtree(WORK, ignore_errors=True)
    cmd = [
        sys.executable, "-m", "perfbench.driver",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", str(WORK),
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=_child_env(), stdout=subprocess.PIPE,
        start_new_session=True, text=True,
    )
    sampler = MemorySampler(proc.pid)
    sampler.start()
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        sampler.stopped.set()
        sampler.join()
        _stop_session(proc.pid)
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)

    if out is None:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 3
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        print(f"perfbench: workload driver exited with {proc.returncode}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    peak_mb = sampler.peak / (1 << 20)
    if not args.trace:
        result["metrics"]["peak_pss_mb"] = {"value": peak_mb, "unit": "MB"}
    for line in lines[:-1]:
        print(line)
    print(f"# peak_pss_mb = {peak_mb:.1f} MB (process tree, sampled every {MEM_SAMPLE_S} s)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
