"""One benchmark run in a fresh driver process.

Started by ``run.py``, which pins the deployment through environment
variables, generates the inputs and makes this process the leader of
its own session (so the session id names the whole process tree).

The run is a closed loop from this one driver: each query of the
workload is built, forced with a ``noop`` write, and only then is the
next one sent.  Order of a run:

1. set-up: imports, ``get_spark`` and the framework warm-up, timed
   from process start;
2. the cold pass: first execution of every query in the fresh session;
3. warm passes until ``--seconds`` have elapsed (at least ``MIN_WARM``);
   the first ``SETTLE`` of them are reported but left out of the
   medians, because warm passes keep speeding up for a while;
4. the oracle check: each query once against its ``oracle_sql()``
   entry on DuckDB, over the same files.

Set-up and every pass end only when the process tree is idle again, so
their CPU time includes the background work (JIT compiles, GC) they
started, and the next pass starts from a quiet process.

With ``--trace 1`` the cold pass and every other warm pass are traced:
spans wrap the calls into each layer and counters are read from Spark's
status stores after each query.  The untraced passes between them give
``trace.overhead_s``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import workloads  # noqa: E402

SETTLE = 3      # leading warm passes left out of the warm medians
# warm passes per run, at least: five settled ones, so the medians are of
# five passes (three traced and two untraced in a traced run)
MIN_WARM = SETTLE + 5
DEADLINE_S = 50.0  # no new pass starts after this much run time
IDLE_MAX_S = 10.0   # longest wait for the background work of a step

# Set-up and pass costs are CPU seconds of the whole process tree: on a
# shared VM the hypervisor's steal stretches wall times of the same work
# by up to 2x from one minute to the next, and moves CPU times far less.
END_TO_END = {
    "setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s",
    "warm_cpu_geomean_ms": "ms", "peak_rss_mb": "MB",
}
# wall-clock times, printed beside the CPU figures in every run
WALL = {"setup_wall_s": "s", "cold_s": "s", "warm_s": "s",
        "warm_geomean_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "build.s": "s", "build.jobs": "count", "build.job_s": "s",
    "build.self_s": "s", "cold.build.jobs": "count",
    "catalyst.s": "s", "plan.exchanges": "count", "plan.scans_file": "count",
    "plan.scans_local": "count", "plan.scans_rdd": "count",
    "plan.python_nodes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "python.mb_sent": "MB", "python.mb_received": "MB",
    "python.stage_run_s": "s", "python.wait_s": "s",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.gc_count": "count",
    "proc.cpu_s": "s", "host.steal_s": "s", "trace.overhead_s": "s",
}


def force(df) -> None:
    """Execute the full plan without collecting rows (as bench.py does)."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, data_dir: str) -> None:
    """Framework first-touch costs that no single query should absorb:
    a parquet footer read and scan, one small shuffle, one Arrow/Python
    round trip, the window executor and a broadcast join (bench.py's
    warm-up without its streaming part, which no workload uses).  It
    reads the 25-row nation table, so it costs the same on every
    workload and input scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    nation = spark.read.parquet(f"{data_dir}/nation.parquet")
    force(nation.limit(1))
    force(nation.groupBy("n_regionkey").count())
    force(spark.range(100).toDF("x").mapInPandas(lambda it: it, "x long"))
    t = spark.range(256).toDF("x")
    force(t.withColumn("r", F.row_number().over(
        Window.partitionBy(F.col("x") % 4).orderBy("x"))))
    force(t.join(F.broadcast(spark.range(8).toDF("x")), on="x"))


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = workloads.WORKLOADS[args.workload]
        self.data = args.data
        self.sid = os.getsid(0)
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []
        self.spans: list[dict] = []

    # ------------------------------------------------------------ helpers

    def now(self) -> float:
        return time.perf_counter() - T_PROCESS

    def span(self, name, t0, t1, parent=None, **kw):
        if self.args.trace:
            self.spans.append({"name": name, "parent": parent, "t0": t0,
                               "t1": t1, **kw})

    def fail(self, name: str, where: str, err: str) -> None:
        self.failures.append(f"{name} [{where}] {err.splitlines()[0][:300]}")

    # ------------------------------------------------------------ set-up

    def setup(self):
        """Imports, ``get_spark`` and the warm-up, from process start.
        Every run is a fresh process, so each run gives one sample."""
        from xarray_spark import get_spark
        self.spark = get_spark("xsbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = self.now()
        warm_up(self.spark, self.data)
        t2 = self.now()
        idle = layers.wait_idle(self.sid, IDLE_MAX_S)
        cpu = layers.session_cpu_s(self.sid)
        self.setup_times = {"start": t1, "warmup": t2 - t1, "cpu": cpu}
        self.span("session.start", 0.0, t1)
        self.span("session.warmup", t1, t2)
        self.counters = layers.SparkCounters(self.spark) if self.args.trace \
            else None
        print(f"# setup: {t2:.3f} s (get_spark {t1:.3f} s, warm-up "
              f"{t2 - t1:.3f} s)  cpu {cpu:.2f} s  idle after "
              f"{idle:.2f} s", flush=True)

    # ------------------------------------------------------------ passes

    def traced_query(self, pid: int, name: str, fn) -> dict:
        c = self.counters
        group = f"xsb-{pid}-{name}"
        parent = f"pass{pid}/{name}"
        c.set_group(group + "-build")
        t0 = self.now()
        df = fn(self.spark, self.data)
        t1 = self.now()
        plan = df._jdf.queryExecution().executedPlan()
        t2 = self.now()
        c.set_group(group + "-exec")
        force(df)
        t3 = self.now()
        c.set_group(None)
        self.span("build", t0, t1, parent, query=name)
        self.span("catalyst", t1, t2, parent, query=name)
        self.span("exec", t2, t3, parent, query=name)
        c.settle()
        b = c.group_jobs(group + "-build")
        e = c.group_jobs(group + "-exec")
        py = c.python_metrics()
        stage_times = {**b["stage_times"], **e["stage_times"]}
        py_run = sum(stage_times[s][0] for s in py["stages"]
                     if s in stage_times)
        py_cpu = sum(stage_times[s][1] for s in py["stages"]
                     if s in stage_times)
        rec = {
            "build.s": t1 - t0, "build.jobs": b["jobs"],
            "build.job_s": b["job_s"], "catalyst.s": t2 - t1,
            "exec.s": t3 - t2, "exec.jobs": e["jobs"],
            "exec.stages": e["stages"], "exec.tasks": e["tasks"],
            "exec.executor_run_s": e["run_s"],
            "exec.executor_cpu_s": e["cpu_s"],
            "exec.shuffle_read_mb": e["shuffle_read_mb"],
            "exec.shuffle_write_mb": e["shuffle_write_mb"],
            "exec.spill_mb": e["spill_mb"],
            "exec.failed_tasks": e["failed_tasks"],
            "python.mb_sent": py["mb_sent"],
            "python.mb_received": py["mb_received"],
            "python.stage_run_s": py_run, "python.wait_s": py_run - py_cpu,
        }
        rec["build.self_s"] = rec["build.s"] - rec["build.job_s"]
        for k, v in layers.plan_counts(plan.treeString()).items():
            rec[f"plan.{k}"] = v
        self.span("query", t0, t3, f"pass{pid}", query=name, counters=rec)
        return rec

    def run_pass(self, kind: str, traced: bool) -> dict:
        pid = len(self.passes)
        qs = self.queries
        steal0 = layers.host_steal_s()
        jvm0 = self.jvm_stats(self.spark) if traced else {}
        t_start = self.now()
        cpu_start = layers.session_cpu_s(self.sid)
        times, cpus, layer = {}, {}, {}
        for name, fn in qs.items():
            self.attempted += 1
            cpu0 = layers.session_cpu_s(self.sid)
            t0 = time.perf_counter()
            try:
                if traced:
                    for k, v in self.traced_query(pid, name, fn).items():
                        layer[k] = layer.get(k, 0) + v
                else:
                    force(fn(self.spark, self.data))
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self.fail(name, f"pass {pid}", f"{type(e).__name__}: {e}")
            times[name] = time.perf_counter() - t0
            cpus[name] = layers.session_cpu_s(self.sid) - cpu0
            gc.collect()  # release per-query DataFrames between queries
        wall = sum(times.values())
        self.span("pass", t_start, self.now(), None, index=pid, kind=kind,
                  traced=traced)
        idle = layers.wait_idle(self.sid, IDLE_MAX_S)
        rec = {"index": pid, "kind": kind, "traced": traced, "wall": wall,
               "times": times, "cpus": cpus,
               "cpu": layers.session_cpu_s(self.sid) - cpu_start,
               "steal": layers.host_steal_s() - steal0, "layer": layer}
        if traced:
            jvm1 = self.jvm_stats(self.spark)
            for k in ("jit_s", "gc_s", "gc_count"):
                layer[f"jvm.{k}"] = jvm1.get(k, 0) - jvm0.get(k, 0)
            layer["proc.cpu_s"] = rec["cpu"]
            layer["host.steal_s"] = rec["steal"]
        self.passes.append(rec)
        print(f"# pass {pid} {kind}{' traced' if traced else ''}: "
              f"{wall:.3f} s  cpu {rec['cpu']:.2f} s  idle after "
              f"{idle:.2f} s  host steal {rec['steal']:.2f} s", flush=True)
        print("#   query cpu s: " + "  ".join(
            f"{q.split('_', 1)[0]} {c:.2f}" for q, c in cpus.items()),
            flush=True)
        return rec

    # ------------------------------------------------------------ oracle

    def oracle_check(self) -> int:
        """Compare each query once with its oracle; return matches."""
        import duckdb
        import oracle_harness
        import __spark_entry__ as entry
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in oracle_harness.TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) \
                else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        ok = 0
        for name, fn in self.queries.items():
            self.attempted += 1
            try:
                errs = oracle_harness.compare(
                    fn(self.spark, self.data), con.execute(oracles[name]).df(),
                    name)
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                errs = [f"{type(e).__name__}: {e}"]
            if errs:
                self.fail(name, "oracle", errs[0])
            else:
                ok += 1
        con.close()
        return ok

    # ------------------------------------------------------------ main

    def execute(self) -> dict:
        args = self.args
        with layers.PeakRss(self.sid) as rss:
            self.setup()
            import bench
            import __spark_entry__ as entry
            self.jvm_stats = bench.jvm_stats
            self.queries = workloads.select(entry.queries(), self.workload)
            self.run_pass("cold", traced=bool(args.trace))
            t_end = self.now() + args.seconds
            warm = 0
            while (warm < MIN_WARM or self.now() < t_end) and not (
                    warm > SETTLE + 1 and self.now() > DEADLINE_S):
                traced = bool(args.trace) and warm >= SETTLE \
                    and (warm - SETTLE) % 2 == 0
                self.run_pass("warm", traced)
                warm += 1
        t0 = self.now()
        ok = self.oracle_check()
        print(f"# oracle: {ok}/{len(self.queries)} queries match "
              f"({self.now() - t0:.3f} s)", flush=True)
        self.spark.stop()
        print(f"# run done at {self.now():.3f} s", flush=True)
        return self.metrics(rss.peak_mb)

    def geomean_ms(self, passes: list[dict], key: str) -> float:
        """Geometric mean over the queries of each query's median."""
        meds = [_median([p[key][q] for p in passes]) for q in self.queries]
        return 1000 * math.exp(statistics.fmean(
            math.log(max(m, 1e-6)) for m in meds))

    def metrics(self, peak_rss_mb: float) -> dict:
        settled = [p for p in self.passes if p["kind"] == "warm"][SETTLE:]
        plain = [p for p in settled if not p["traced"]]
        traced = [p for p in settled if p["traced"]]
        cold = self.passes[0]
        out = {
            "setup_s": self.setup_times["cpu"],
            "cold_cpu_s": cold["cpu"],
            "warm_cpu_s": _median([p["cpu"] for p in plain]),
            "warm_cpu_geomean_ms": self.geomean_ms(plain, "cpus"),
            "peak_rss_mb": peak_rss_mb,
            "setup_wall_s": (self.setup_times["start"]
                             + self.setup_times["warmup"]),
            "cold_s": cold["wall"],
            "warm_s": _median([p["wall"] for p in plain]),
            "warm_geomean_ms": self.geomean_ms(plain, "times"),
        }
        if self.args.trace:
            # the settled traced pass of median wall time: its layer
            # figures all describe one pass, so they add up to it
            rep = sorted(traced, key=lambda p: p["wall"])[
                (len(traced) - 1) // 2]
            for k in PER_LAYER:
                out[k] = rep["layer"].get(k, 0)
            out["session.start_s"] = self.setup_times["start"]
            out["session.warmup_s"] = self.setup_times["warmup"]
            out["cold.build.jobs"] = self.passes[0]["layer"].get(
                "build.jobs", 0)
            out["trace.overhead_s"] = rep["wall"] - out["warm_s"]
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True, help="generated input dir")
    ap.add_argument("--spans", help="write the traced run's spans here")
    args = ap.parse_args(argv)

    print(f"# workload {args.workload}  seed {args.seed}  seconds "
          f"{args.seconds:g}  trace {args.trace}  data {args.data}")
    run = Run(args)
    m = run.execute()

    failed_share = len(run.failures) / run.attempted
    print(f"# warm passes settle after the first {SETTLE}")
    units = {**END_TO_END, **WALL, **(PER_LAYER if args.trace else {})}
    for k, unit in units.items():
        print(f"metric {k} {m[k]!r} {unit}")
    print(f"metric failed_share {failed_share!r} ratio")
    for f in run.failures:
        print(f"failed {f}")
    if args.spans and run.spans:
        with open(args.spans, "w") as fh:
            json.dump(run.spans, fh)
    chosen = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": not run.failures, "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": m[k], "unit": u} for k, u in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
