"""The three closed-loop, single-client workloads.

Each workload writes its seeded inputs, opens them, and runs passes: one
pass is a fixed sequence of calls into the program's public API, each timed
on its own and each result checked against the generator's manifest. The
client waits for every call before making the next.

* ``dq_batch`` — the DQ session over one orders table: learn, check
  (BASIC), profile, psi and ks drift, PII scan.
* ``dq_microbatch`` — one 5k-row batch per pass through the
  ``foreachBatch`` body of ``validate_stream`` with a fixed suite.
* ``corpus_dedup`` — fuzzy dedup of the whole corpus, and one delta probed
  against a dedup index of the base written once per run, in set-up.

``probe_layers`` makes the extra calls that split a layer's time (traced
runs only): the bare executor, the BOOLEAN_ONLY check, spec compilation,
and the candidate / verify / connected-components stages of dedup.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa

import gen

DQ_ROWS = 20_000
DQ_PARTS = 4
DRIFT_COLUMNS = ["amount", "discount", "score"]
MB_BATCHES, MB_ROWS = 12, 5_000
CORPUS_DOCS, DELTAS, DELTA_DOCS = 2_000, 4, 20
INDEX_BUCKETS = 8


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    """A directory of ``parts`` parquet files (the lake layout), so scans
    of the table can use every core."""
    step = -(-table.num_rows // parts)
    for i in range(parts):
        gen.write_parquet(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def issue_counts(result) -> dict:
    """{(issue_type, column): count} of a ValidationRunResult; execution
    errors count as issues too, so a failing validator is a wrong result."""
    out = {(i.issue_type, i.column): i.count for i in result.issues}
    out.update({(i.issue_type, i.column): i.count for i in result.execution_issues})
    return out


def expected_counts(manifest: dict) -> dict:
    kinds = {"null": "null_values", "range": "out_of_range", "unique": "duplicate_values"}
    return {
        (kinds[k], col): n for k in kinds for col, n in manifest[k].items()
    }


def _dq_suite():
    """The fixed six-validator suite of the micro-batch workload."""
    from truthound_spark.validators.completeness import NullValidator
    from truthound_spark.validators.distribution import InSetValidator, RangeValidator
    from truthound_spark.validators.string import EmailValidator
    from truthound_spark.validators.uniqueness import UniqueValidator

    return [
        NullValidator(["quantity", "region"]),
        UniqueValidator(["order_id"]),
        RangeValidator("amount", 0.0, 1000.0),
        RangeValidator("discount", 0.0, 1.0),
        InSetValidator("status", list(gen.STATUSES)),
        EmailValidator("email"),
    ]


class Workload:
    """Shared client loop state: per-call latencies and failure count."""

    name = ""
    calls: tuple[str, ...] = ()
    # the figures the report prints under their workload names: sums of
    # per-call medians
    named: dict[str, tuple[str, ...]] = {}
    warmup_passes = 1
    # warm-up passes when the JVM has already run another workload, as in
    # the second part of a traced run
    shared_warmup_passes = 1
    # extra options of the Spark JVM when the run is of this workload
    java_options = ""

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.seed = seed
        self.inputs = os.path.join(root, "inputs")
        self.latency: dict[str, list[float]] = {c: [] for c in self.calls}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def generate(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        os.makedirs(self.inputs)
        self._generate()

    def call(self, tr, name: str, fn, check=None):
        """Time one call into the program; ``check(result)`` is False or
        raises on a wrong result. Returns the result, or None on failure."""
        self.attempted += 1
        try:
            with tr.span(name):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            if check is not None and not check(out):
                raise AssertionError("result differs from the manifest")
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failed += 1
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None
        self.latency.setdefault(name, []).append(dt)
        return out

    def prepare(self, tr) -> None:
        """One-time work a user does before the first pass."""

    def warm_up(self, tr, passes: int | None = None) -> None:
        """``prepare``, then ``passes`` (default ``warmup_passes``) passes
        before timing: JIT, codegen and Python workers settle. The passes'
        samples are dropped; failures still count."""
        self.prepare(tr)
        for k in range(self.warmup_passes if passes is None else passes):
            self.run_pass(tr, k)
        for c in self.calls:
            self.latency[c] = []

    # subclasses: _generate, open(spark), run_pass(tr, k); maybe prepare(tr),
    # probe_layers(tr)
    def probe_layers(self, tr) -> dict:
        return {}


class DqBatch(Workload):
    name = "dq_batch"
    calls = (
        "schema.learn",
        "api.check",
        "profiler.profile",
        "drift.compare.psi",
        "drift.compare.ks",
        "scanners.scan",
    )
    named = {
        "learn_s": ("schema.learn",),
        "check_s": ("api.check",),
        "profile_s": ("profiler.profile",),
        "drift_s": ("drift.compare.psi", "drift.compare.ks"),
        "scan_s": ("scanners.scan",),
    }
    # Its first-pass cost is the JVM's (class loading, JIT, Python
    # workers): after another workload, its first pass took 18.9 s and its
    # second 19.7 s on 4 cores, each call within the calls' own noise.
    shared_warmup_passes = 0

    def _generate(self) -> None:
        base, cur, self.manifest = gen.orders_tables(self.seed, DQ_ROWS)
        _write_parts(base, os.path.join(self.inputs, "base"), DQ_PARTS)
        _write_parts(cur, os.path.join(self.inputs, "cur"), DQ_PARTS)

    def open(self, spark) -> None:
        self.base = spark.read.parquet(os.path.join(self.inputs, "base"))
        self.cur = spark.read.parquet(os.path.join(self.inputs, "cur"))
        self.expected = expected_counts(self.manifest)

    def run_pass(self, tr, k: int) -> None:
        import truthound_spark as th

        m = self.manifest
        drifted = lambda res: {c for c, r in res.items() if r.drifted} == {m["shifted"]}  # noqa: E731
        schema = self.call(
            tr, "schema.learn", lambda: th.learn(self.base),
            lambda s: s.row_count == m["rows"] and len(s.columns) == 10,
        )
        self.schema = schema
        self.call(
            tr, "api.check",
            lambda: th.check(self.cur, baseline=schema, result_format="basic"),
            lambda r: issue_counts(r) == self.expected,
        )
        self.call(
            tr, "profiler.profile", lambda: th.profile(self.cur),
            lambda p: p.row_count == m["rows"]
            and {c: p.columns[c].null_count for c in m["null"]} == m["null"],
        )
        self.call(
            tr, "drift.compare.psi",
            lambda: th.compare(self.base, self.cur, columns=DRIFT_COLUMNS, method="psi"),
            drifted,
        )
        self.call(
            tr, "drift.compare.ks",
            lambda: th.compare(self.base, self.cur, columns=DRIFT_COLUMNS, method="ks"),
            drifted,
        )
        self.call(
            tr, "scanners.scan", lambda: th.scan(self.cur),
            lambda r: set(m["pii"]) <= {f.column for f in r.findings},
        )

    def probe_layers(self, tr) -> dict:
        import truthound_spark as th
        from truthound_spark.core.executor import BatchExpressionExecutor

        executor = BatchExpressionExecutor(_dq_suite(), result_format="boolean_only")
        self.call(
            tr, "core.executor.execute", lambda: executor.execute(self.cur),
            lambda issues: {(i.issue_type, i.column): i.count for i in issues} == self.expected,
        )
        # a warm BASIC / BOOLEAN_ONLY pair, back to back: their difference
        # is the cost of the evidence BASIC adds
        for fmt in ("basic", "boolean"):
            self.call(
                tr, f"api.check_{fmt}",
                lambda: th.check(
                    self.cur, baseline=self.schema,
                    result_format="boolean_only" if fmt == "boolean" else fmt,
                ),
                lambda r: issue_counts(r) == self.expected,
            )
        return {}


class DqMicrobatch(Workload):
    name = "dq_microbatch"
    calls = ("adapters.read", "streaming.sink")
    named = {"batch_p50_s": calls}
    warmup_passes = shared_warmup_passes = MB_BATCHES  # every batch file once
    # C1 JIT only. With C2, the per-batch latency of this driver-bound
    # loop keeps falling for 150+ batches (0.47 s to 0.37 s on 4 cores),
    # past any warm-up a run can afford, so a run's median depended on how
    # far the JIT had got; with C1 it is flat after ~10 batches.
    java_options = "-XX:TieredStopAtLevel=1"

    def _generate(self) -> None:
        tables, self.manifests = gen.orders_batches(self.seed, MB_BATCHES, MB_ROWS)
        self.paths = []
        for i, t in enumerate(tables):
            path = os.path.join(self.inputs, "batches", f"batch-{i:04d}.parquet")
            gen.write_parquet(t, path)
            self.paths.append(path)

    def open(self, spark) -> None:
        from truthound_spark.streaming.validate import StreamingValidationSink

        self.spark = spark
        self.suite = _dq_suite()
        self.sink = StreamingValidationSink(self.suite)
        self.expected = [expected_counts(m) for m in self.manifests]

    def _read(self, path: str):
        df = self.spark.read.parquet(path)
        df.schema  # noqa: B018  (resolves the file schema, as a file source does)
        return df

    def run_pass(self, tr, k: int) -> None:
        i = k % len(self.paths)
        df = self.call(tr, "adapters.read", lambda: self._read(self.paths[i]))
        if df is None:
            return
        self.call(
            tr, "streaming.sink", lambda: self.sink(df, k),
            lambda _: self.sink.results[-1][0] == k
            and issue_counts(self.sink.results[-1][1]) == self.expected[i],
        )

    def probe_layers(self, tr) -> dict:
        df = self._read(self.paths[0])
        self.call(
            tr, "core.executor.specs",
            lambda: [s for v in self.suite for s in v.specs(df)],
            lambda specs: len(specs) >= len(self.suite),
        )
        return {}


class CorpusDedup(Workload):
    name = "corpus_dedup"
    calls = (
        "pipeline.dedup.dedup_clusters",
        "pipeline.dedup.incremental_dedup_indexed",
    )
    named = {
        "dedup_s": ("pipeline.dedup.dedup_clusters",),
        "index_write_s": ("pipeline.dedup.write_dedup_index",),
        "probe_s": ("pipeline.dedup.incremental_dedup_indexed",),
    }

    def _generate(self) -> None:
        base, deltas, self.manifest = gen.corpus(self.seed, CORPUS_DOCS, DELTAS, DELTA_DOCS)
        _write_parts(pa.concat_tables([base] + deltas), os.path.join(self.inputs, "full"), 4)
        gen.write_parquet(base, os.path.join(self.inputs, "base.parquet"))
        self.delta_paths = []
        for i, d in enumerate(deltas):
            path = os.path.join(self.inputs, f"delta-{i:02d}.parquet")
            gen.write_parquet(d, path)
            self.delta_paths.append(path)

    def open(self, spark) -> None:
        self.spark = spark
        self.full = spark.read.parquet(os.path.join(self.inputs, "full"))
        self.base = spark.read.parquet(os.path.join(self.inputs, "base.parquet"))
        self.deltas = [spark.read.parquet(p) for p in self.delta_paths]
        self.planted = set(self.manifest["duplicates"])
        self.index = None

    def write_index(self, tr, database: str):
        """Index the base into a new database and location under this
        run's directory, so no earlier index can be attached or reused.
        Returns the index and its location."""
        from truthound_spark.pipeline.dedup import write_dedup_index

        location = os.path.join(self.root, "index", database)
        index = self.call(
            tr, "pipeline.dedup.write_dedup_index",
            lambda: write_dedup_index(
                self.base, "docs", buckets=INDEX_BUCKETS,
                database=database, location=location,
            ),
            lambda idx: set(idx) == {"fingerprints", "shingles", "lsh"},
        )
        return index, location

    def prepare(self, tr) -> None:
        """Index the base once, as a user indexes once and then probes
        every increment."""
        self.index, _ = self.write_index(tr, "perfbench_index")

    def run_pass(self, tr, k: int) -> None:
        from truthound_spark.pipeline.dedup import (
            dedup_clusters,
            incremental_dedup_indexed,
            release_dedup_caches,
        )

        self.call(
            tr, "pipeline.dedup.dedup_clusters",
            lambda: {
                r[0]
                for r in dedup_clusters(self.full, threshold=gen.DEDUP_THRESHOLD)
                .filter("NOT is_canonical").select("doc_id").collect()
            },
            lambda ids: ids == self.planted,
        )
        release_dedup_caches()
        if self.index is None:
            return
        d = k % len(self.deltas)
        self.call(
            tr, "pipeline.dedup.incremental_dedup_indexed",
            lambda: {
                r[0]
                for r in incremental_dedup_indexed(
                    self.deltas[d], self.index, threshold=gen.DEDUP_THRESHOLD,
                ).filter("dup_of IS NOT NULL").select("id").collect()
            },
            lambda ids: ids == set(self.manifest["delta_duplicates"][d]),
        )
        release_dedup_caches()

    def probe_layers(self, tr) -> dict:
        from truthound_spark.pipeline.dedup import (
            connected_components,
            minhash_dedup_pairs,
            minhash_lsh_candidates,
            release_dedup_caches,
        )

        # a second, traced index write, for its counters and size on disk
        database = "perfbench_index_traced"
        _, location = self.write_index(tr, database)
        index_bytes = _tree_bytes(location) / self.manifest["docs"]
        self.spark.sql(f"DROP DATABASE IF EXISTS {database} CASCADE")
        roots = self.manifest["parent"]
        expected_clusters = len({_root(roots, c) for c in self.planted})
        candidates = self.call(
            tr, "pipeline.dedup.minhash_lsh_candidates",
            lambda: minhash_lsh_candidates(self.full).count(),
            lambda n: n >= len(self.planted),
        )
        release_dedup_caches()
        # the pair stage plans eagerly (it materializes intermediates while
        # building the frame), so building it belongs inside the span
        pairs, clusters = [], None
        verified = self.call(
            tr, "pipeline.dedup.minhash_dedup_pairs",
            lambda: _persist_count(
                minhash_dedup_pairs(self.full, threshold=gen.DEDUP_THRESHOLD), pairs
            ),
            lambda n: n >= len(self.planted),
        )
        if pairs:
            clusters = self.call(
                tr, "pipeline.dedup.connected_components",
                lambda: connected_components(pairs[0]).select("cluster_id").distinct().count(),
                lambda n: n == expected_clusters,
            )
            pairs[0].unpersist(blocking=True)
        release_dedup_caches()
        return {
            "candidate_pairs": candidates or 0,
            "verified_pairs": verified or 0,
            "clusters": clusters or 0,
            "index_bytes_per_doc": index_bytes,
        }


def _persist_count(df, keep: list) -> int:
    df = df.persist()
    keep.append(df)
    return df.count()


def _root(parent: dict, doc: int) -> int:
    while doc in parent:
        doc = parent[doc]
    return doc


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


WORKLOADS = {w.name: w for w in (DqBatch, DqMicrobatch, CorpusDedup)}
