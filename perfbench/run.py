#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload etl_exchange --seed 1 --seconds 10 --trace 0

Each run is one fresh process and one closed-loop client on local[nproc]:
the next query starts only after the previous one has finished.  A run

1. sets up (session up, package and contract imported, one trivial job);
2. times one cold pass that also fetches every query's output and checks it
   against the query's DuckDB oracle (the oracle side is not timed);
3. runs the untimed warm-up passes;
4. times warm passes until ``--seconds`` have gone by.

Every query is timed in wall and in CPU seconds of the whole process tree.
The gated timings are the CPU ones: the host steals CPU time from the VM in
spells that slow whole runs' walls (README.md, "Why the timings are CPU
seconds and not wall").

With ``--trace 1`` the timed passes alternate between untraced ones and
ones with every layer's public functions wrapped in spans (see
spantrace.py), and the run reports the per-layer metrics instead of the
end-to-end ones.  ``--seed`` sets the query order within each pass; the
engine always reads the same fixed tables under ``perfbench/data``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries the
samples behind each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Driver heap.  The inputs are a few MB, and G1 grows a heap this size to
# its cap early in every run, so peak RSS tracks the workload rather than
# the moment the collector chose to expand.  get_spark would ask for 16g.
DRIVER_HEAP = "1g"
# The JVM compiles with C1 only.  With the default tiered C2 the compiler
# threads spend about 45 s of CPU per run on a 4-vCPU host, racing the task
# threads through setup, the cold pass and the first timed passes.
# README.md ("What one run does") has the comparison.
JVM_OPTS = "-XX:TieredStopAtLevel=1"
# Untimed passes between the cold pass and the timed region.  README.md
# ("Warm-up") has the measurements behind the number.
WARMUP_PASSES = 2
# A query still running after this long is cancelled and counts as failed.
QUERY_TIMEOUT_S = 60.0
# Counts each dispatch probe times (bench.py's 30-task frame; bench.py
# itself takes 20).
DISPATCH_PROBE_COUNTS = 10


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by the process and every
    process below it, reaped ones included: the Python driver, the JVM and
    the Python workers.  Time the host steals from the VM is not in it."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole VM so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """Peak resident set (VmHWM) of each process, keyed ``name:pid``."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(l.split(":", 1) for l in f if ":" in l)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def host_facts() -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


class Run:
    """One workload run: the session, the queries, and the tallies."""

    def __init__(self, workload, seed: int, data_dir: str, work: str):
        self.wl = workload
        self.rng = random.Random(seed)
        self.data = data_dir
        self.out_dir = os.path.join(work, "out")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.sink_bytes = 0
        self.sink_files = 0
        self.persisted_rdds: list[int] = []
        self.spark = None

    def start(self, work: str, facts: dict) -> None:
        os.environ["SPARK_GRAFT_CPUS"] = str(facts["nproc"])
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        sys.path.insert(0, ROOT)
        import __spark_entry__ as contract
        import smartpy_arc_spark.sinks.write as sink_mod
        import smartpy_arc_spark.sources.scan as scan_mod
        from smartpy_arc_spark import get_spark

        tmp = os.path.join(work, "tmp")
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
            },
        )
        self.sc = self.spark.sparkContext
        self.spark.range(1).count()
        self.contract = contract
        self.sink_mod = sink_mod
        self.scan_mod = scan_mod
        self.queries = {q: contract.queries()[q] for q in self.wl.queries}

    def stop(self) -> None:
        """Stop the session and the JVM and wait until every process the
        session started has exited."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = [p for p in kids if _alive(p)]
            if not alive:
                return
            time.sleep(0.1)
        for p in kids:
            if _alive(p):
                os.kill(p, 9)

    # -- one query -----------------------------------------------------
    def execute(self, name: str, fn, tracer=None) -> None:
        """Build the query and run it into the workload's sink."""
        df = fn(self.spark, self.data)
        if self.wl.sink == "parquet":
            self.sink_mod.write_table(
                df, self.out_dir, name, overwrite=True, compat_casts=True
            )
            df = self.scan_mod.scan(self.spark, self.out_dir, name)
        if tracer is None:
            df.write.format("noop").mode("overwrite").save()
        else:
            with tracer.span("exec", name):
                df.write.format("noop").mode("overwrite").save()

    def attempt(self, name: str, body) -> None:
        """Run body() under the query timeout; count the attempt."""
        self.attempted += 1
        timer = threading.Timer(QUERY_TIMEOUT_S, self.sc.cancelAllJobs)
        timer.start()
        try:
            body()
        except Exception as e:  # a failed query is tallied, not fatal
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        finally:
            timer.cancel()

    def one_pass(self, queries: dict | None = None, tracer=None) -> dict[str, tuple]:
        """Run every query once, in this pass's order; returns each query's
        (wall seconds, CPU seconds).  Trace bookkeeping after a query is not
        counted."""
        queries = queries or self.queries
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        times = {}
        for name in order:
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            self.attempt(name, lambda: self.execute(name, queries[name], tracer))
            t1 = time.perf_counter()
            times[name] = (t1 - t0, tree_cpu_s(os.getpid()) - c0)
            if tracer is not None:
                tracer.harvest()
                if self.wl.sink == "parquet":
                    self.measure_sink(name)
        self.persisted_rdds.append(self.sc._jsc.getPersistentRDDs().size())
        return times

    def measure_sink(self, name: str) -> None:
        path = os.path.join(self.out_dir, f"{name}.parquet")
        for dirpath, _, files in os.walk(path):
            for f in files:
                self.sink_files += 1
                self.sink_bytes += os.path.getsize(os.path.join(dirpath, f))

    # -- cold pass with the output check -------------------------------
    def checked_pass(self) -> tuple[float, float]:
        """The first pass, timed as one block: run every query, fetch its
        output (toPandas) and, for the parquet sink, write it and read it
        back.  Then, outside the timed block, compare each output with its
        oracle_sql() entry through DuckDB, and the rows read back with the
        rows written.  Returns the engine's (wall seconds, CPU seconds).  A
        query that raised or mismatched counts as failed."""
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        outputs: dict[str, tuple] = {}
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        for name in order:
            self.attempt(name, lambda: outputs.__setitem__(name, self.fetch(name)))
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - c0
        self.check_outputs(outputs)
        return wall, cpu

    def fetch(self, name: str) -> tuple:
        """One query's output as pandas, and the row count read back from
        the parquet sink (None for the noop sink)."""
        df = self.queries[name](self.spark, self.data)
        got = df.toPandas()
        back = None
        if self.wl.sink == "parquet":
            self.sink_mod.write_table(
                df, self.out_dir, name, overwrite=True, compat_casts=True
            )
            back = self.scan_mod.scan(self.spark, self.out_dir, name).count()
        return got, back

    def check_outputs(self, outputs: dict[str, tuple]) -> None:
        import duckdb
        from tools.check_oracle import TABLES, compare

        oracles = self.contract.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{t}.parquet')"
                )
            for name, (got, back) in outputs.items():
                try:
                    problems = compare(name, got, con.sql(oracles[name]).df())
                except Exception as e:  # an oracle that fails is a failed check
                    problems = [f"{type(e).__name__}: {str(e)[:300]}"]
                if back is not None and back != len(got):
                    problems.append(f"read back {back} rows, wrote {len(got)}")
                if problems:
                    self.failed += 1
                    self.problems.append(f"{name}: " + "; ".join(problems))
        finally:
            con.close()

    def input_rows(self) -> int:
        """Rows of the tables the workload's queries read (the tables their
        oracle SQL names), counted once from the parquet footers."""
        import pyarrow.parquet as pq
        from tools.check_oracle import TABLES

        oracles = self.contract.oracle_sql()
        tables = {
            t
            for q in self.wl.queries
            for t in TABLES
            if re.search(rf"\b{t}\b", oracles[q])
        }
        return sum(
            pq.ParquetFile(f"{self.data}/{t}.parquet").metadata.num_rows
            for t in tables
        )

    def dispatch_ms(self) -> float:
        import bench

        return bench.dispatch_ms(self.spark, n=DISPATCH_PROBE_COUNTS)

    def timed_passes(self, seconds: float) -> list[dict[str, tuple]]:
        passes: list[dict[str, tuple]] = []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            passes.append(self.one_pass())
        return passes


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


WALL, CPU = 0, 1


def median_pass(passes: list[dict[str, tuple]], kind: int) -> float:
    """The median pass, query by query: the sum over queries of each
    query's median WALL or CPU seconds across the passes.  One slow query
    in one pass moves it less than it moves the median of pass totals."""
    return sum(statistics.median(p[q][kind] for p in passes) for q in passes[0])


def pass_totals(passes: list[dict[str, tuple]], kind: int) -> list[float]:
    return [sum(t[kind] for t in p.values()) for p in passes]


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def traced_region(run: Run, seconds: float, cold: tuple) -> tuple[dict, dict]:
    """Alternating untraced and traced timed passes.  Returns the per-layer
    metrics, per traced pass, and the samples behind them; writes the spans
    to .perfbench_work/traces/<workload>.json."""
    from spantrace import LAYER_UNITS, SPARK_UNITS, Tracer

    dispatch_pre = run.dispatch_ms()
    tracer = Tracer(run.sc)
    traced_queries = tracer.wrap_queries(run.queries)
    sink0 = (run.sink_bytes, run.sink_files)
    plain: list[dict[str, tuple]] = []
    traced: list[dict[str, tuple]] = []
    deadline = time.perf_counter() + seconds
    # Untraced and traced passes alternate, so the warm-up trend that is
    # still running falls on both sides of the overhead reading.
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        while not traced or time.perf_counter() < deadline:
            if len(plain) <= len(traced):
                plain.append(run.one_pass())
                continue
            tracer.install(run.contract)
            try:
                traced.append(run.one_pass(traced_queries, tracer))
            finally:
                tracer.uninstall()
    dispatch_post = run.dispatch_ms()
    n = len(traced)
    fallbacks = sum(
        1 for w in caught
        if str(w.message).startswith("enrich_join:") and "falling back" in str(w.message)
    )
    metrics = {
        k: metric(v / n, LAYER_UNITS[k.rsplit(".", 1)[1]])
        for k, v in tracer.layer_metrics().items()
    }
    for k, v in tracer.spark_metrics().items():
        metrics[k] = metric(v if k == "spark.peak_exec_mem_mb" else v / n, SPARK_UNITS[k])
    metrics.update({
        "spark.dispatch_ms": metric((dispatch_pre + dispatch_post) / 2, "ms"),
        "sinks.bytes_written": metric((run.sink_bytes - sink0[0]) / n, "bytes"),
        "sinks.files_written": metric((run.sink_files - sink0[1]) / n, "count"),
        "operators.join.broadcast_fallbacks": metric(fallbacks / n, "count"),
        "storage.persisted_rdds": metric(float(run.persisted_rdds[-1]), "count"),
        "cold.pass_s": metric(cold[WALL], "s"),
        "wall.pass_s": metric(median_pass(plain, WALL), "s"),
        "trace.pass_s": metric(median_pass(traced, WALL), "s"),
        "trace.overhead_s": metric(
            median_pass(traced, WALL) - median_pass(plain, WALL), "s"
        ),
    })
    detail = {
        "untraced_passes_s": pass_totals(plain, WALL),
        "traced_passes_s": pass_totals(traced, WALL),
        "dispatch_ms": [dispatch_pre, dispatch_post],
        "persisted_rdds": run.persisted_rdds,
        "unattributed_jobs": [j for j in tracer.job_ids if j not in tracer.job_span],
    }
    trace_dir = os.path.join(WORK_ROOT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    detail["trace_file"] = os.path.join(trace_dir, f"{run.wl.name}.json")
    with open(detail["trace_file"], "w") as f:
        json.dump({**tracer.dump(), **detail}, f)
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_epoch()
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01",
                    help="table set under perfbench/data (sf0.01 or sf0.001)")
    args = ap.parse_args(argv)

    data_dir = os.path.join(HERE, "data", args.scale)
    for need in ("__spark_entry__.py", "smartpy_arc_spark", "bench.py", "tools"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found in {ROOT}", file=sys.stderr)
            return 2
    if not os.path.isdir(data_dir):
        print(f"perfbench: no table set {data_dir}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    facts = host_facts()
    steal0 = host_steal_ticks()
    run = Run(WORKLOADS[args.workload], args.seed, data_dir, work)
    try:
        run.start(work, facts)
        setup_s = time.time() - t_proc

        cold = run.checked_pass()
        warmup = [run.one_pass() for _ in range(WARMUP_PASSES)]
        if args.trace:
            metrics, detail = traced_region(run, args.seconds, cold)
        else:
            passes = run.timed_passes(args.seconds)
            pass_cpu_s = median_pass(passes, CPU)
            rss = peak_rss_mb([os.getpid()] + descendants(os.getpid()))
            rows = run.input_rows()
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "cold_pass_cpu_s": metric(cold[CPU], "s"),
                "pass_cpu_s": metric(pass_cpu_s, "s"),
                "rows_per_cpu_s": metric(rows / pass_cpu_s, "rows/cpu-s"),
                "ok_frac": metric(1 - run.failed / run.attempted, "fraction"),
                "peak_rss_mb": metric(sum(rss.values()), "MB"),
            }
            detail = {
                "pass_s": median_pass(passes, WALL),
                "passes_s": pass_totals(passes, WALL),
                "passes_cpu_s": pass_totals(passes, CPU),
                "query_s": {q: [p[q] for p in passes] for q in run.wl.queries},
                "input_rows": rows,
                "rss_mb": rss,
            }
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    steal1 = host_steal_ticks()

    detail.update({
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "setup_s": setup_s,
        "cold_pass_s": cold[WALL],
        "cold_pass_cpu_s": cold[CPU],
        "warmup_passes_s": pass_totals(warmup, WALL),
        # Share of the VM's CPU time the host took back over the run; slow
        # runs track it (README.md, "Steadiness").
        "host_steal_frac": (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]),
        "host": facts,
        "problems": run.problems,
    })
    print(json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
