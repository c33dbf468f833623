"""Where the CPU of a warm benchmark pass goes.

    python3 scripts/pass_cpu_split.py --workload corpus_dedup --seed 1 --passes 3

Runs one perfbench workload the way ``perfbench/run.py`` does (same
inputs, same Spark session, same set-up and warm-up, by importing
``perfbench/`` and changing nothing in it), then ``--passes`` warm passes.
For each pass it prints the CPU seconds of:

- the Spark JVM, by thread group: executor task threads, JIT compiler
  threads, GC threads, and every other thread (the driver: py4j
  connections, scheduler, listeners, broadcast and shuffle services),
  plus threads that exited during the pass;
- each Python worker process under the JVM (the daemon and the workers it
  forks, with the CPU of reaped children);
- this client process;

and the number of classes Janino compiled (``CodegenMetrics``). The last
line of standard output is one JSON object with every pass's split.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
TICK = os.sysconf("SC_CLK_TCK")


def _ticks(fields: list[str], children: bool) -> int:
    """utime + stime (+ cutime + cstime) of /proc stat fields that follow
    the command name."""
    return sum(int(x) for x in fields[11 : 15 if children else 13])


def _thread_group(name: str) -> str:
    if name.startswith("Executor task"):
        return "executor"
    if "Compiler" in name:  # "C1 CompilerThre", "C2 CompilerThre"
        return "jit"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "driver"


def snapshot(jvm: int) -> dict:
    """Cumulative CPU ticks of the JVM (whole and per live thread), of
    every process under it, and CPU seconds of this client."""
    import run as bench

    threads = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                name, fields = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:  # the thread ended while we looked
            continue
        threads[int(tid)] = (name, _ticks(fields.split(), children=False))
    tree = bench._process_tree(jvm)
    return {
        "jvm": _ticks(tree.pop(jvm), children=False),
        "threads": threads,
        "python": {pid: _ticks(fields, children=True) for pid, fields in tree.items()},
        "client": bench.client_cpu(),
    }


def split(before: dict, after: dict) -> dict:
    """CPU seconds spent between two snapshots, by group."""
    groups = dict.fromkeys(("executor", "driver", "jit", "gc"), 0.0)
    for tid, (name, ticks) in after["threads"].items():
        prev = before["threads"].get(tid, (name, 0))[1]
        groups[_thread_group(name)] += (ticks - prev) / TICK
    jvm = (after["jvm"] - before["jvm"]) / TICK
    groups["exited"] = jvm - sum(groups.values())
    python = {
        pid: (ticks - before["python"].get(pid, 0)) / TICK
        for pid, ticks in after["python"].items()
    }
    client = after["client"] - before["client"]
    return {
        "total": jvm + sum(python.values()) + client,
        "jvm": jvm,
        "jvm_threads": groups,
        "python": sum(python.values()),
        "python_pids": {str(pid): s for pid, s in python.items() if s > 0},
        "client": client,
    }


def compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def line(k: int, s: dict) -> str:
    t = s["jvm_threads"]
    pids = ", ".join(f"{pid} {v:.2f}" for pid, v in sorted(s["python_pids"].items()))
    return (
        f"# pass {k}: {s['total']:.2f} s = JVM {s['jvm']:.2f} (executor "
        f"{t['executor']:.2f}, driver {t['driver']:.2f}, JIT {t['jit']:.2f}, "
        f"GC {t['gc']:.2f}, exited {t['exited']:.2f}) + Python {s['python']:.2f} "
        f"({pids or 'none'}) + client {s['client']:.2f}; "
        f"Janino compiles {s['compiles']}"
    )


def main(argv=None) -> int:
    sys.path[:0] = [PERFBENCH, ROOT]
    import run as bench
    from tracing import NullTracer
    from workloads import WORKLOADS

    from pyspark import SparkContext

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--passes", type=int, default=3)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"cpu-split-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    bench.prepare_environment(work)
    wl = WORKLOADS[args.workload](os.path.join(work, args.workload), args.seed)
    wl.generate()
    spark = bench.start_spark(work, wl.java_options)
    jvm = SparkContext._gateway.proc.pid
    tr = NullTracer()
    passes = []
    try:
        wl.open(spark)
        wl.warm_up(tr)
        for k in range(wl.warmup_passes, wl.warmup_passes + args.passes):
            c0, s0 = compiles(spark), snapshot(jvm)
            wl.run_pass(tr, k)
            s = split(s0, snapshot(jvm))
            s["compiles"] = compiles(spark) - c0
            passes.append(s)
            print(line(k, s))
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if wl.failed:
        print(f"# FAILED {wl.failures[:3]}", file=sys.stderr)
    med = lambda key: statistics.median(s[key] for s in passes)  # noqa: E731
    print(
        f"# median: {med('total'):.2f} s = JVM {med('jvm'):.2f} + Python "
        f"{med('python'):.2f} + client {med('client'):.2f}; "
        f"Janino compiles {med('compiles'):g}"
    )
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "failed": wl.failed, "passes": passes}))
    return 1 if wl.failed else 0


if __name__ == "__main__":
    sys.exit(main())
