#!/usr/bin/env python
"""Split each contract query's CPU per call between the driver's Python,
the JVM, the JVM's helper processes and the Python workers.

    python tools/cpu_split.py geom_split wav_decode [--scale sf0.01] [--calls 5]
    python tools/cpu_split.py enrich_join_inner --sink parquet

Each named ``queries()`` entry runs against the table set
``perfbench/data/<scale>``, first for ``WARMUP_CALLS`` untimed calls and
then for ``--calls`` measured ones.  With ``--sink noop`` (the default) a
call runs the query into the noop sink.  With ``--sink parquet`` it runs
the query as ``perfbench``'s ``etl_exchange`` pass does: written through
``sinks.write.write_table(..., overwrite=True, compat_casts=True)``, read
back through ``sources.scan.scan`` and run into the noop sink.  Per call,
CPU seconds (user + system) are read from ``/proc/<pid>/stat`` over the
whole process tree, as ``perfbench/run.py::tree_cpu_s`` reads them, and
split four ways:

- ``driver_s``: this Python process;
- ``jvm_s``: the ``java`` process itself;
- ``helpers_s``: the short-lived processes the JVM forks and reaps
  (Hadoop's local file system runs ``chmod`` and ``readlink`` when its
  native library is not loaded), and any still running;
- ``workers_s``: the Python processes below the JVM, the pyspark daemon
  and its workers.

A Python process that has exited counts towards the process that reaped
it (the daemon reaps its workers).

``build_s`` is the part of that CPU, summed over all four, that a call
spends inside the query function, apart from the sink's run: building
the DataFrame, plus any jobs the function runs eagerly while it builds
(the ``mst`` driver loop, the streaming drains).

``jobs`` counts the Spark jobs a call submits, streaming ones included.
``compiles`` counts the classes Spark's code generator compiles during a
call (``CodegenMetrics``' compilation-time histogram): the classes its
cache did not hold, for the query and its sink alike.
The session runs as ``perfbench/run.py`` runs it: local[nproc], a 1 GB
driver heap and a C1-only JVM.  Each query's medians are printed as a
line to stderr; the last stdout line is one JSON object
``{query: {"driver_s", "jvm_s", "helpers_s", "workers_s", "build_s",
"jobs", "compiles", "wall_s"}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARMUP_CALLS = 2
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_split(pid: int) -> dict[str, float]:
    """CPU seconds used so far by ``pid`` and every process below it,
    split into the driver (``pid`` itself), the JVM, the JVM's helpers
    and the Python workers.  Everything the ``java`` process reaped and
    every process below it that is neither ``java`` nor Python count as
    helpers; below a Python worker, they count towards the workers."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        own = int(fields[11]) + int(fields[12])  # utime stime
        reaped = int(fields[13]) + int(fields[14])  # cutime cstime
        procs[int(entry)] = (head.split("(", 1)[1], own, reaped)
        children.setdefault(int(fields[1]), []).append(int(entry))
    ticks = {"driver_s": 0, "jvm_s": 0, "helpers_s": 0, "workers_s": 0}
    todo = [(pid, "driver_s")]
    while todo:
        p, part = todo.pop()
        if p not in procs:
            continue
        comm, own, reaped = procs[p]
        if comm == "java":
            ticks["jvm_s"] += own
            ticks["helpers_s"] += reaped
            todo.extend((c, "helpers_s") for c in children.get(p, []))
            continue
        if p != pid and comm.startswith("python"):
            part = "workers_s"
        ticks[part] += own + reaped
        todo.extend((c, part) for c in children.get(p, []))
    return {k: v / CLK_TCK for k, v in ticks.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="contract query names")
    ap.add_argument("--scale", default="sf0.01",
                    help="table set under perfbench/data (sf0.01 or sf0.001)")
    ap.add_argument("--calls", type=int, default=5, help="measured calls per query")
    ap.add_argument("--sink", choices=("noop", "parquet"), default="noop",
                    help="noop: run into the noop sink; parquet: write with "
                    "compat casts, read back, run into the noop sink")
    args = ap.parse_args(argv)
    data_dir = os.path.join(ROOT, "perfbench", "data", args.scale)
    if not os.path.isdir(data_dir):
        print(f"cpu_split: no table set {data_dir}", file=sys.stderr)
        return 2

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path.insert(0, ROOT)
    import __spark_entry__ as contract
    from smartpy_arc_spark import get_spark
    from smartpy_arc_spark.session import jclass
    from smartpy_arc_spark.sinks.write import write_table
    from smartpy_arc_spark.sources.scan import scan

    qs = contract.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        print(f"cpu_split: no such queries: {unknown}", file=sys.stderr)
        return 2
    work = tempfile.mkdtemp(prefix="cpu_split-")
    spark = get_spark(
        "cpu_split",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
        },
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    compiled = jclass(
        spark, "org.apache.spark.metrics.source.CodegenMetrics"
    ).METRIC_COMPILATION_TIME()
    pid = os.getpid()
    out_dir = os.path.join(work, "out")

    def call(name: str) -> float:
        """Run one call; return the CPU seconds spent building its frame."""
        b0 = sum(cpu_split(pid).values())
        df = qs[name](spark, data_dir)
        build_s = sum(cpu_split(pid).values()) - b0
        if args.sink == "parquet":
            write_table(df, out_dir, name, overwrite=True, compat_casts=True)
            df = scan(spark, out_dir, name)
        df.write.format("noop").mode("overwrite").save()
        return build_s

    out = {}
    try:
        for name in args.queries:
            samples = []
            for i in range(WARMUP_CALLS + args.calls):
                k0 = compiled.getCount()
                c0, j0, t0 = cpu_split(pid), dag.numTotalJobs(), time.perf_counter()
                build_s = call(name)
                wall_s, jobs = time.perf_counter() - t0, dag.numTotalJobs() - j0
                c1 = cpu_split(pid)
                if i >= WARMUP_CALLS:
                    samples.append({**{k: c1[k] - c0[k] for k in c0},
                                    "build_s": build_s, "jobs": jobs,
                                    "compiles": compiled.getCount() - k0,
                                    "wall_s": wall_s})
            out[name] = {k: round(statistics.median(s[k] for s in samples), 3)
                         for k in samples[0]}
            print(f"{name}: {out[name]}", file=sys.stderr, flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
