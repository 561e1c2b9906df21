"""Benchmark entry point: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The launcher copies ``engine/`` into a
private tree under ``.bench_build/`` so every run starts from an empty
artifact root (``engine.session.scratch_dir`` resolves next to the
package it is imported from), prepares a pinned environment, starts
``loop.py`` in a new process group, relays its output (the result JSON
is the last stdout line) and removes the private tree. It exits non-zero
without printing a result when the engine sources are missing or the
run fails.

``--record`` rewrites ``expected.json`` for the workload from the
current engine instead of checking against it.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: one run, including its set-up, must end well inside this
CHILD_TIMEOUT_S = 170


def driver_mem_mb() -> int:
    """4 GiB, or a third of host RAM when that is smaller (the engine's
    16g default is above the RAM of a small host)."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return min(4096, int(line.split()[1]) // 1024 // 3)
    return 4096


def prepare(work: str) -> dict[str, str]:
    """Copy the engine into ``work`` and return the child's environment."""
    tree = os.path.join(work, "tree")
    shutil.copytree(
        os.path.join(ROOT, "engine"),
        os.path.join(tree, "engine"),
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb()}m",
        # bench.py's production hash mode (xxhash64 sketches); expected
        # digests are recorded in this mode
        SPARK_GRAFT_FAST_HASH="1",
        PYTHONHASHSEED="0",
        # Python workers import ``engine`` from the private tree
        PYTHONPATH=os.pathsep.join(
            p for p in (tree, env.get("PYTHONPATH", "")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "pyspark-shell"
        ),
    )
    # inputs resolve next to the engine's default fixture, never to an
    # override left in the caller's environment
    env.pop("SPARK_GRAFT_SF_DIR", None)
    env.pop("SPARK_GRAFT_ORACLE_SF", None)
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group (the JVM and
    its Python workers) and reap the child."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def wait_group_gone(pgid: int, timeout: float = 20.0) -> None:
    """Block until no process of group ``pgid`` is left."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "engine", "registry.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    work = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spawn_t = time.time()
    try:
        env = prepare(work)
        cmd = [
            sys.executable,
            os.path.join(HERE, "loop.py"),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--spawn-time", repr(spawn_t),
            "--tree", os.path.join(work, "tree"),
            "--trace-dir", os.path.join(ROOT, ".bench_build", "traces"),
        ] + (["--record"] if args.record else [])
        out_path = os.path.join(work, "stdout")
        with open(out_path, "w") as out:
            proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=out,
                start_new_session=True,
            )
            try:
                proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print("perfbench: run timed out", file=sys.stderr)
                return 3
            finally:
                # the JVM outlives the Python child by seconds otherwise
                stop_group(proc)
                wait_group_gone(proc.pid)
        with open(out_path) as fh:
            lines = fh.read().rstrip("\n").splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write("\n".join(lines))
            print(f"perfbench: run failed ({proc.returncode})", file=sys.stderr)
            return 1
        print("\n".join(lines))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
