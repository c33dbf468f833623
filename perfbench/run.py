"""Benchmark of record for truthound-spark.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds nothing: the program is the
``truthound_spark`` package beside this directory. One run generates the
workload's inputs from ``--seed``, starts Spark on ``local[<=4]`` with the
UI off, warms up, then drives the workload in a closed loop with one client
for ``--seconds`` seconds and at least ``MIN_PASSES`` passes (a pass in
flight at the deadline completes), checking every result against the
generator's manifest. Report lines start
with ``#``; the last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured without tracing.
``--trace 1`` reports the per-layer metrics instead: the workload's passes
alternate untraced and traced (the difference is the tracing overhead),
its layer-splitting calls follow, then each other workload's preparation
and warm-up, untraced, and one traced pass (plus layer-splitting calls), so
every per-layer metric is present on every workload. Spans are written to
``.perfbench_out/spans-<workload>-seed<seed>.jsonl``.

Scratch files live under ``.perfbench_work/`` in the checkout and are
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, len(os.sched_getaffinity(0)))
SETUP_REPEATS = 3
# A corpus_dedup pass takes about the run length, and after the warm-up
# its passes still get faster (10.2 s, 9.4 s, 8.5 s, then flat). Without a
# floor, a run timed one pass or two depending on where the deadline fell,
# and its pass_s moved by 20%.
MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_pss_mb": "MB",
}
# spans that get the full per-span counter set in traced runs
COUNTED_SPANS = (
    "schema.learn",
    "api.check",
    "profiler.profile",
    "drift.compare.psi",
    "drift.compare.ks",
    "scanners.scan",
    "streaming.sink",
    "pipeline.dedup.dedup_clusters",
    "pipeline.dedup.write_dedup_index",
    "pipeline.dedup.incremental_dedup_indexed",
    "pipeline.dedup.minhash_lsh_candidates",
    "pipeline.dedup.minhash_dedup_pairs",
    "pipeline.dedup.connected_components",
)
SPAN_COUNTERS = {
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "parallel_efficiency": "ratio",
}
NAMED_LAYER_METRICS = {
    "schema.learn.wall_s": "s",
    "core.executor.compile_s": "s",
    "core.executor.agg_s": "s",
    "core.executor.evidence_s": "s",
    "core.executor.jobs_per_check": "count",
    "adapters.read_s": "s",
    "microbatch.jobs_per_batch": "count",
    "microbatch.tasks_per_batch": "count",
    "drift.compare.psi_s": "s",
    "drift.compare.ks_s": "s",
    "drift.compare.jobs": "count",
    "pipeline.dedup.candidates_s": "s",
    "pipeline.dedup.candidate_pairs": "count",
    "pipeline.dedup.verify_s": "s",
    "pipeline.dedup.verified_pairs": "count",
    "pipeline.dedup.verify_yield": "ratio",
    "pipeline.dedup.cc_s": "s",
    "pipeline.dedup.clusters": "count",
    "layout.index_bytes_per_doc": "B/doc",
    "client.self_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{span}.{counter}": unit
        for span in COUNTED_SPANS
        for counter, unit in SPAN_COUNTERS.items()
    }
    units.update(NAMED_LAYER_METRICS)
    return units


# ---------------------------------------------------------------------------
# process environment, Spark session, memory


def prepare_environment(work: str) -> None:
    """Keep every file Spark and its Python workers write inside ``work``
    and let the workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(work: str, java_options: str = ""):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.local.dir", os.path.join(work, "tmp"))
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed, pre-touched heap keeps PSS steady; JIT compiler
            # threads that live as long as the JVM keep the CPU time
            # pass_cpu_seconds reads from them whole (a thread that exits
            # takes its count with it)
            f"-Djava.io.tmpdir={work}/tmp -Xms2g -XX:+AlwaysPreTouch "
            f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads {java_options}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _process_tree(root_pid: int) -> dict[int, list[str]]:
    """{pid: /proc/<pid>/stat fields after the command name} of
    ``root_pid`` and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            stats[int(entry)] = fields
            children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def _pss_of_tree(root_pid: int) -> int:
    """Proportional set size in bytes of ``root_pid`` and its descendants.
    PSS, not RSS: the Python workers are forked from one daemon and share
    most of their pages, which RSS would count once per worker."""
    total = 0
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMemory(threading.Thread):
    """Samples the PSS of the Spark JVM plus its Python workers every
    0.5 s and keeps the peak."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(0.5):
            self.peak = max(self.peak, _pss_of_tree(self.pid))

    def stop(self) -> int:
        if not self._done.is_set():
            self._done.set()
            self.join(timeout=10)
        return self.peak


# ---------------------------------------------------------------------------
# runs


def client_cpu() -> float:
    """CPU seconds this client process has used so far, all threads."""
    return sum(os.times()[:2])


def generate(wl) -> tuple[float, float]:
    """Generate the inputs ``SETUP_REPEATS`` times; returns the median
    (wall, CPU) seconds of one generation, which set-up counts."""
    walls, cpus = [], []
    for _ in range(SETUP_REPEATS):
        t0, c0 = time.perf_counter(), client_cpu()
        wl.generate()
        walls.append(time.perf_counter() - t0)
        cpus.append(client_cpu() - c0)
    return statistics.median(walls), statistics.median(cpus)


def tail_percentile(n: int) -> int | None:
    """The highest of p95, p90 and p75 that has at least 10 of ``n``
    samples beyond it, or None."""
    for p in (95, 90, 75):
        if n * (100 - p) >= 1000:
            return p
    return None


def report(wl) -> list[str]:
    """Per-call medians and tails and the workload's named figures, with
    sample counts."""
    lat = {c: statistics.median(v) for c, v in wl.latency.items() if v}
    lines = []
    for c, median in lat.items():
        v = wl.latency[c]
        line = f"{c}.median_s {median:.4f} s (n={len(v)})"
        p = tail_percentile(len(v))
        if p is not None:
            line += f"; p{p} {statistics.quantiles(v, n=100)[p - 1]:.4f} s"
        lines.append(line)
    for name, calls in wl.named.items():
        if all(c in lat for c in calls):
            lines.append(f"{name} {sum(lat[c] for c in calls):.4f} s")
    return lines


def cpu_steal() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def cpu_seconds(jvm: int) -> float:
    """CPU time used so far by this client process and by the Spark JVM
    with its Python workers (exited children included)."""
    ticks = sum(
        sum(int(x) for x in fields[11:15]) for fields in _process_tree(jvm).values()
    )
    return ticks / os.sysconf("SC_CLK_TCK") + sum(os.times()[:2])


def jit_seconds(jvm: int) -> float:
    """CPU time used so far by the JVM's JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                name, fields = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:  # the thread ended while we looked
            continue
        if "Compiler" in name:  # "C1 CompilerThre", "C2 CompilerThre"
            ticks += sum(int(x) for x in fields.split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def pass_cpu_seconds(jvm: int) -> float:
    """``cpu_seconds`` less the JIT compiler threads' share. The JIT's
    background compiles land in whichever pass they happen to overlap (up
    to a quarter of a micro-batch pass, half of a dedup pass) and fade as
    the run goes on; they are warm-up, not the pass's work."""
    return cpu_seconds(jvm) - jit_seconds(jvm)


def untraced_run(wl, seconds: float) -> tuple[dict, float]:
    """Closed loop for ``seconds`` and at least ``MIN_PASSES`` passes; a
    pass in flight at the deadline completes. Returns the metrics and the
    share of the machine's CPU time the hypervisor took for other guests
    meanwhile (steal), the sign of a noisy neighbour."""
    from tracing import NullTracer

    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    tr = NullTracer()
    ticks0 = cpu_steal()
    t0 = time.perf_counter()
    k = wl.warmup_passes
    cpus = []
    while k < wl.warmup_passes + MIN_PASSES or time.perf_counter() - t0 < seconds:
        c0 = pass_cpu_seconds(jvm)
        wl.run_pass(tr, k)
        cpus.append(pass_cpu_seconds(jvm) - c0)
        k += 1
    window = time.perf_counter() - t0
    ticks = [b - a for a, b in zip(ticks0, cpu_steal())]
    metrics = {
        # the median pass's CPU seconds, JIT compiles left out: wall times
        # follow the host's steal (see the README), CPU time much less
        "pass_cpu_s": statistics.median(cpus),
        # reported, not bounded: each call's median latency summed over
        # one pass, and its near-reciprocal under one closed-loop client
        "pass_s": sum(statistics.median(wl.latency[c]) for c in wl.calls),
        "calls_per_s": (k - wl.warmup_passes) * len(wl.calls) / window,
    }
    return metrics, ticks[1] / max(ticks[0], 1)


def traced_run(wl, tracer, seconds: float, spark, work: str) -> tuple[dict, list]:
    """Per-layer metrics (see the module doc). Returns (metrics, the other
    workloads run for coverage)."""
    from tracing import NullTracer, layer_report
    from workloads import WORKLOADS

    untraced = NullTracer()
    walls: dict[bool, list[float]] = {False: [], True: []}
    t0 = time.perf_counter()
    k = wl.warmup_passes
    while not (walls[True] and walls[False]) or time.perf_counter() - t0 < seconds:
        traced = bool((k - wl.warmup_passes) % 2)  # untraced first
        tr = tracer if traced else untraced
        p0 = time.perf_counter()
        with tr.span("client.pass"):
            wl.run_pass(tr, k)
        walls[traced].append(time.perf_counter() - p0)
        k += 1
    extras = wl.probe_layers(tracer)
    others = []
    for name, cls in WORKLOADS.items():
        if name != wl.name:
            other = cls(os.path.join(work, name), wl.seed)
            other.generate()
            other.open(spark)
            # its preparation and warm-up passes untraced, so the traced
            # pass measures the layers, not first calls
            other.warm_up(untraced, other.shared_warmup_passes)
            with tracer.span("client.pass"):
                other.run_pass(tracer, other.shared_warmup_passes)
            extras.update(other.probe_layers(tracer))
            others.append(other)

    rep = layer_report(tracer.spans, CORES)
    wall = lambda span: rep[span]["wall_s"]  # noqa: E731
    metrics = {
        f"{span}.{counter}": rep[span][counter]
        for span in COUNTED_SPANS
        for counter in SPAN_COUNTERS
    }
    untraced_s, traced_s = statistics.median(walls[False]), statistics.median(walls[True])
    metrics.update(
        {
            "schema.learn.wall_s": wall("schema.learn"),
            "core.executor.compile_s": wall("core.executor.specs"),
            "core.executor.agg_s": wall("core.executor.execute"),
            "core.executor.evidence_s": wall("api.check_basic") - wall("api.check_boolean"),
            "core.executor.jobs_per_check": rep["api.check"]["jobs"],
            "adapters.read_s": wall("adapters.read"),
            "microbatch.jobs_per_batch": rep["streaming.sink"]["jobs"],
            "microbatch.tasks_per_batch": rep["streaming.sink"]["tasks"],
            "drift.compare.psi_s": wall("drift.compare.psi"),
            "drift.compare.ks_s": wall("drift.compare.ks"),
            "drift.compare.jobs": rep["drift.compare.psi"]["jobs"] + rep["drift.compare.ks"]["jobs"],
            "pipeline.dedup.candidates_s": wall("pipeline.dedup.minhash_lsh_candidates"),
            "pipeline.dedup.candidate_pairs": extras["candidate_pairs"],
            # the pair stage runs the candidate stage inside it
            "pipeline.dedup.verify_s": wall("pipeline.dedup.minhash_dedup_pairs")
            - wall("pipeline.dedup.minhash_lsh_candidates"),
            "pipeline.dedup.verified_pairs": extras["verified_pairs"],
            "pipeline.dedup.verify_yield": extras["verified_pairs"]
            / max(extras["candidate_pairs"], 1),
            "pipeline.dedup.cc_s": wall("pipeline.dedup.connected_components"),
            "pipeline.dedup.clusters": extras["clusters"],
            "layout.index_bytes_per_doc": extras["index_bytes_per_doc"],
            "client.self_s": rep["client.pass"]["self_s"],
            "trace.overhead_s": traced_s - untraced_s,
            "trace.overhead_ratio": traced_s / untraced_s,
        }
    )
    return metrics, others


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from pyspark import SparkContext

    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    wl = WORKLOADS[workload](os.path.join(work, workload), seed)
    gen_wall, gen_cpu = generate(wl)
    t0, c0 = time.perf_counter(), client_cpu()
    spark = start_spark(work, wl.java_options)
    jvm = SparkContext._gateway.proc.pid
    memory = PeakMemory(jvm)
    memory.start()
    tracer = Tracer(spark, f"{workload}-{seed}", CORES) if trace else None
    others: list = []
    try:
        wl.open(spark)
        wl.warm_up(NullTracer())
        # set-up is one input generation (the median one), Spark start,
        # opening the inputs, the one-time preparation and the warm-up;
        # setup_s is its CPU seconds (client, JVM and Python workers), for
        # the reason pass_cpu_s is (see the README)
        setup_s = gen_cpu + cpu_seconds(jvm) - c0
        setup_wall_s = gen_wall + time.perf_counter() - t0
        if trace:
            metrics, others = traced_run(wl, tracer, seconds, spark, work)
            lines = report(wl)
        else:
            metrics, steal = untraced_run(wl, seconds)
            metrics.update(setup_s=setup_s, peak_pss_mb=memory.stop() / 2**20)
            lines = report(wl) + [
                f"setup_wall_s {setup_wall_s:.4f} s",
                f"pass_s {metrics['pass_s']:.4f} s (wall)",
                f"calls_per_s {metrics['calls_per_s']:.4f} 1/s",
                f"cpu_steal {steal:.4f} ratio (machine-wide, measured window)",
            ]
    finally:
        memory.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ran = [wl] + others
    attempted = sum(w.attempted for w in ran)
    failed = sum(w.failed for w in ran)
    for w in ran:
        for f in w.failures[:5]:
            print(f"# FAILED {w.name} {f}", file=sys.stderr)
    incomplete = tracer.incomplete if tracer is not None else []
    for f in incomplete[:5]:
        print(f"# FAILED trace counters read before the stage ended: {f}", file=sys.stderr)
    if tracer is not None:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"spans-{workload}-seed{seed}.jsonl"))
    units = per_layer_units() if trace else END_TO_END
    lines.append(f"failed_ratio {failed / max(attempted, 1):.4f} ratio ({failed}/{attempted})")
    lines += [f"{name} {metrics[name]:.6g} {unit}" for name, unit in units.items()]
    for line in lines:
        print(f"# {workload} {line}")
    return {
        "correct": failed == 0 and not incomplete,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import truthound_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(run(args.workload, args.seed, args.seconds, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
