"""Benchmark entry point: run one workload of the xarray_spark engine.

    python3 xsbench/run.py --workload array_ops --seed 1 --seconds 10 --trace 0

Run it from the root of a source tree (the directory that holds
``xarray_spark/`` and ``__spark_entry__.py``); that tree is the engine
under test.  This launcher pins the deployment through the environment
variables ``get_spark`` reads, generates the seeded inputs (once per
seed and scale, outside every timed region), then runs ``measure.py``
in a new process session and waits until every process of that session
(driver, JVM, Python workers) has ended.  The last line of standard
output is the run's JSON result.
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
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402

TASK_SLOTS = 4          # local[N]; never more than the host's CPUs
DRIVER_MEMORY = "1g"    # below host RAM (the session default is 16g); see README
RUN_TIMEOUT_S = 170     # the run is killed after this long
REQUIRED = ("xarray_spark/__init__.py", "__spark_entry__.py", "bench.py",
            "tests/oracle_harness.py")


def deployment(root: str, work: str) -> dict:
    """The environment variables a run pins (``get_spark`` reads the
    first two)."""
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(min(TASK_SLOTS, os.cpu_count() or 1)),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # Python workers import xarray_spark from the tree under test
        "PYTHONPATH": os.pathsep.join([root, os.path.join(root, "tests")]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        # C1 JIT only and the serial collector: C2's background compiles
        # and G1's heap sizing made the CPU and memory figures of the same
        # code spread widely; see README, "JVM flags"
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
    }


def stop_session(sid: int, grace_s: float = 15.0) -> None:
    """Terminate what is left of session ``sid`` and wait until it is
    gone; SIGKILL whatever outlives the grace period."""
    sig = signal.SIGTERM
    deadline = time.monotonic() + grace_s
    while True:
        # a zombie has ended; only its parent's wait can remove it
        pids = [int(pid) for pid, f in layers.session_procs(sid)
                if f[0] not in ("Z", "X")]
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the warm-pass window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="row-count multiplier of the 1x tables "
                         "(the smoke test runs 0.1)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"xsbench: not a source tree root ({root}): missing {missing}",
              file=sys.stderr)
        return 2

    import datagen
    work = os.path.join(root, ".xsbench")
    wl = workloads.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    data = datagen.generate(os.path.join(work, "data"), args.seed,
                            args.scale, wl.fact_mult)
    print(f"# inputs {data} ({time.perf_counter() - t0:.2f} s, untimed)",
          flush=True)

    pinned = deployment(root, work)
    for k, v in pinned.items():
        print(f"# env {k}={v}", flush=True)
    spans = os.path.join(work, "trace")
    os.makedirs(spans, exist_ok=True)
    spans = os.path.join(spans, f"{args.workload}-seed{args.seed}.json")
    cmd = [sys.executable, os.path.join(HERE, "measure.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--spans", spans]
    child = subprocess.Popen(cmd, cwd=root, env={**os.environ, **pinned},
                             start_new_session=True)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"xsbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        stop_session(child.pid)
        child.wait()
        shutil.rmtree(pinned["TMPDIR"], ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
