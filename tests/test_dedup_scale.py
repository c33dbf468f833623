"""Scale shape of the dedup verify stages (r12): size-gated candidate
attaches (broadcast only under a byte budget, shuffle-hash over it) and
the bucketed shingle-table layout that replaces localCheckpoint reuse."""

import pytest
from pyspark.sql import functions as F

from truthound_spark.layout import plan_exchanges
from truthound_spark.pipeline.dedup import (
    _pair_relation_bytes,
    incremental_dedup,
    minhash_dedup_pairs,
    set_similarity_join,
    write_shingle_layout,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)


def _pairs_set(df):
    return {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in df.collect()}


class TestBroadcastBudgetGate:
    def test_over_budget_plan_has_no_broadcast(self, docs):
        # budget 0 = the 100 TB shape: every candidate attach must be a
        # shuffle join; a BroadcastExchange anywhere means a pair relation
        # (unbounded in the corpus) is being shipped through the driver
        pairs = minhash_dedup_pairs(
            docs, threshold=0.5, broadcast_pairs_budget=0,
            shingle_broadcast_budget=0,
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan

    def test_gate_preserves_results_exactly(self, docs):
        base = _pairs_set(minhash_dedup_pairs(docs, threshold=0.5))
        gated = _pairs_set(
            minhash_dedup_pairs(
                docs, threshold=0.5, broadcast_pairs_budget=0,
                shingle_broadcast_budget=0,
            )
        )
        assert gated == base

    def test_set_similarity_gate_preserves_results(self, docs):
        sets = docs.select(
            F.col("doc_id"), F.split(F.lower("text"), r"\s+").alias("toks")
        )
        base = _pairs_set(set_similarity_join(sets, "toks", "doc_id", 0.6))
        gated = _pairs_set(
            set_similarity_join(
                sets, "toks", "doc_id", 0.6, broadcast_pairs_budget=0,
                shingle_broadcast_budget=0,
            )
        )
        assert gated == base
        # the candidate ATTACH must be a shuffled-hash join on id_a (the
        # freq/prefix joins inside candidate generation may still auto-
        # broadcast from SIZE ESTIMATES — correct at test scale, and they
        # degrade to shuffles at real scale; the gate removes only the
        # FORCED broadcasts that would override those estimates)
        pairs = set_similarity_join(
            sets, "toks", "doc_id", 0.6, broadcast_pairs_budget=0,
            shingle_broadcast_budget=0,
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        attach_lines = [
            ln for ln in plan.splitlines() if "Join" in ln and "id_a" in ln
        ]
        assert attach_lines and all(
            "Broadcast" not in ln for ln in attach_lines
        ), attach_lines

    def test_set_similarity_gate_measures_string_bytes(self, spark):
        # 20 sets of 4 distinct 1,000-byte strings: 81,600 B by their real
        # length, 3,520 B at a flat 32 B per element. Under a 10,000 B
        # budget the verify join must not broadcast them
        toks = [f"{t:04d}" * 250 for t in range(8)]
        sets = spark.createDataFrame(
            [(i, toks[i % 5 : i % 5 + 4]) for i in range(20)],
            "doc_id long, toks array<string>",
        )

        def run(**budgets):
            pairs = set_similarity_join(sets, "toks", "doc_id", 0.5, **budgets)
            got = _pairs_set(pairs)
            plan = pairs._jdf.queryExecution().executedPlan().toString()
            return got, [ln for ln in plan.splitlines() if "Join" in ln and "id_b" in ln]

        base, _ = run()
        tight, joins = run(shingle_broadcast_budget=10_000)
        off, _ = run(broadcast_pairs_budget=0, shingle_broadcast_budget=0)
        assert joins and all("ShuffledHashJoin" in ln for ln in joins), joins
        assert base == tight == off
        assert len(base) == 94  # 30 identical pairs, 64 at 3/5

    def test_set_similarity_gate_rounds_short_strings_to_words(self, spark):
        # 20 sets of 4 distinct 1-byte strings. An array stores each one in
        # an 8 B slot plus a whole 8 B word: 960 + 80 * 16 = 2,240 B, where
        # their raw length would count 960 + 80 * 9 = 1,680 B. Under a
        # 2,000 B budget the verify join must not broadcast them
        toks = list("abcdefgh")
        sets = spark.createDataFrame(
            [(i, toks[i % 5 : i % 5 + 4]) for i in range(20)],
            "doc_id long, toks array<string>",
        )

        def run(**budgets):
            pairs = set_similarity_join(sets, "toks", "doc_id", 0.5, **budgets)
            plan = pairs._jdf.queryExecution().executedPlan().toString()
            joins = [ln for ln in plan.splitlines() if "Join" in ln and "id_b" in ln]
            return _pairs_set(pairs), joins

        tight, joins = run(shingle_broadcast_budget=2_000)
        roomy, roomy_joins = run(shingle_broadcast_budget=2_240)
        off, _ = run(broadcast_pairs_budget=0, shingle_broadcast_budget=0)
        assert joins and all("ShuffledHashJoin" in ln for ln in joins), joins
        assert any("BroadcastHashJoin" in ln for ln in roomy_joins), roomy_joins
        assert tight == roomy == off
        assert len(tight) == 94

    def test_shingle_broadcast_gate_results_and_plan(self, docs):
        # r15 verify-join gate (guide §8): under the measured shingle
        # budget the pair-key join is a BroadcastHashJoin against the
        # b-side shingle TABLE (the per-pair enriched a-side never
        # crosses an exchange); results are identical to the
        # ceiling-free shuffle shape, which remains the over-budget path
        base = _pairs_set(
            minhash_dedup_pairs(docs, threshold=0.5, shingle_broadcast_budget=0)
        )
        bcast = minhash_dedup_pairs(docs, threshold=0.5)  # engages at test scale
        assert _pairs_set(bcast) == base
        plan = bcast._jdf.queryExecution().executedPlan().toString()
        # the grouped Arrow verify kernel, not just any broadcast join (the
        # candidate attach broadcasts under its own budget either way)
        assert "MapInArrow kernel(" in plan, plan
        base_plan = minhash_dedup_pairs(
            docs, threshold=0.5, shingle_broadcast_budget=0
        )._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" not in base_plan, base_plan

    def test_arrow_verify_back_to_back_corpora_exact(self, docs):
        # the worker caches the broadcast store's numpy views; two calls on
        # corpora that share doc ids but not texts must each verify against
        # their own store (an object-id key can alias a collected store)
        flipped = docs.select(
            (F.lit(10_000_000) - F.col("doc_id")).alias("doc_id"), "text"
        )
        mirrored = docs.select(
            "doc_id", F.reverse(F.split("text", " ")).alias("w")
        ).select("doc_id", F.array_join("w", " ").alias("text"))
        for corpus in (docs, mirrored, flipped, docs):
            exact = _pairs_set(
                minhash_dedup_pairs(corpus, threshold=0.5, shingle_broadcast_budget=0)
            )
            assert exact
            assert _pairs_set(minhash_dedup_pairs(corpus, threshold=0.5)) == exact

    def test_payload_bytes_measured_not_estimated(self, spark):
        from truthound_spark.pipeline.dedup import _payload_bytes, _payload_measures

        rel = spark.range(100).select(
            F.col("id"), F.array(F.col("id"), F.col("id") + 1).alias("sh")
        )
        got = _payload_bytes(rel.agg(*_payload_measures("sh")).collect()[0].asDict(), 8)
        # 100 rows × (48 overhead + 2 longs × 8)
        assert got == 100 * (48 + 16)

    def test_pair_bytes_estimate_orders_of_magnitude(self, spark):
        rel = spark.range(1).select(
            F.col("id").alias("id_a"), F.col("id").alias("id_b")
        )
        per_pair = _pair_relation_bytes(rel, 1)
        # two longs + overhead: must land between "raw 16 bytes" and "1 KB"
        assert 16 <= per_pair <= 1024
        # 35M pairs (the measured sf10 candidate count) must blow any sane
        # budget — the gate exists to flip THAT case to the shuffle path
        assert _pair_relation_bytes(rel, 35_000_000) > (64 << 20)


class TestShingleTableLayout:
    @pytest.fixture(scope="class")
    def shingle_table(self, spark, docs, tmp_path_factory):
        loc = str(tmp_path_factory.mktemp("shingle_db"))
        return write_shingle_layout(
            docs, "t_doc_shingles", buckets=8, location=loc
        )

    def test_results_identical_to_inline_mode(self, docs, shingle_table):
        base = _pairs_set(minhash_dedup_pairs(docs, threshold=0.5))
        stored = _pairs_set(
            minhash_dedup_pairs(docs, threshold=0.5, shingle_table=shingle_table)
        )
        assert stored == base

    def test_bucketed_scan_removes_attach_exchanges(self, docs, shingle_table):
        # over-budget attaches shuffle BOTH sides on id unless the shingle
        # side is already hash-distributed by the bucketed layout — the
        # stored mode must need strictly fewer Exchanges
        inline = minhash_dedup_pairs(docs, threshold=0.5, broadcast_pairs_budget=0)
        stored = minhash_dedup_pairs(
            docs,
            threshold=0.5,
            broadcast_pairs_budget=0,
            shingle_table=shingle_table,
        )
        assert plan_exchanges(stored) < plan_exchanges(inline)
        plan = stored._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan

    def test_shingle_n_mismatch_raises(self, docs, shingle_table):
        # the table was written with shingle_n=3; probing it with n=5
        # would compute near-zero cross-side Jaccard and silently drop
        # every near-duplicate — it must fail loudly instead (ADVICE r12)
        with pytest.raises(ValueError, match="shingle_n=3"):
            minhash_dedup_pairs(
                docs, threshold=0.5, shingle_n=5, shingle_table=shingle_table
            )

    def test_shingle_n_mismatch_raises_incremental(self, docs, shingle_table):
        new_docs = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        with pytest.raises(ValueError, match="shingle_n=3"):
            incremental_dedup(
                new_docs, docs, shingle_n=4, base_shingle_table=shingle_table
            )

    def test_pre_meta_table_warns_but_runs(self, spark, docs, shingle_table, caplog):
        # simulate a pre-r13 layout: strip the property — the read must
        # degrade to a warning, not brick the table
        import logging

        spark.sql(
            f"ALTER TABLE {shingle_table} UNSET TBLPROPERTIES "
            "('truthound.shingles.meta')"
        )
        try:
            with caplog.at_level(logging.WARNING, "truthound_spark.pipeline.dedup"):
                got = minhash_dedup_pairs(
                    docs, threshold=0.5, shingle_table=shingle_table
                ).count()
            assert got >= 0
            assert any("shingles.meta" in r.message for r in caplog.records)
        finally:
            import json

            meta = json.dumps(
                {"version": 1, "shingle_n": 3, "tok_version": 1,
                 "source_md5": None, "text_col": "text", "id_col": "doc_id"}
            )
            spark.sql(
                f"ALTER TABLE {shingle_table} SET TBLPROPERTIES "
                f"('truthound.shingles.meta' = '{meta}')"
            )

    def test_limit_frame_records_no_source(self, spark, shingle_table):
        # the docs fixture is .limit(400) — NOT a bare scan, so the
        # layout written from it must carry source_md5=None and never
        # auto-match (a derived frame's row set isn't the files')
        import json

        rows = spark.sql(
            f"SHOW TBLPROPERTIES {shingle_table} ('truthound.shingles.meta')"
        ).collect()
        assert json.loads(rows[0]["value"]).get("source_md5") is None

    def test_release_dedup_caches(self, spark, docs):
        from truthound_spark.pipeline.dedup import (
            _TRACKED_PERSISTS,
            release_dedup_caches,
        )

        release_dedup_caches()  # start clean
        minhash_dedup_pairs(docs, threshold=0.5).count()
        assert len(_TRACKED_PERSISTS) >= 1
        n = release_dedup_caches()
        assert n >= 1 and not _TRACKED_PERSISTS

    def test_incremental_dedup_with_stored_base(self, spark, docs, tmp_path_factory):
        new_docs = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
        base = incremental_dedup(new_docs, docs, threshold=0.5)
        loc = str(tmp_path_factory.mktemp("shingle_base_db"))
        table = write_shingle_layout(docs, "t_base_shingles", buckets=8, location=loc)
        stored = incremental_dedup(
            new_docs, docs, threshold=0.5, base_shingle_table=table
        )
        as_set = lambda df: {  # noqa: E731
            (r["id"], r["dup_of"], r["match_kind"]) for r in df.collect()
        }
        assert as_set(stored) == as_set(base)

    def test_incremental_dedup_runs_the_verify_kernel(
        self, docs, shingle_table
    ):
        # under the default budget the union store goes to the grouped
        # Arrow verify, inline and with a stored base, and both give the
        # results of the ceiling-free shuffle shape (budgets 0)
        picked = docs.filter(F.col("doc_id") % 5 == 0)
        new_docs = picked.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.when(F.col("doc_id") % 10 == 0, F.col("text"))
            .otherwise(F.concat("text", F.lit(" edited")))
            .alias("text"),
        )
        as_set = lambda df: {  # noqa: E731
            (r["id"], r["dup_of"], r["match_kind"]) for r in df.collect()
        }
        off = as_set(
            incremental_dedup(
                new_docs, docs, threshold=0.5, base_shingle_table=None,
                broadcast_pairs_budget=0, shingle_broadcast_budget=0,
            )
        )
        assert {"exact", "near"} <= {kind for _, _, kind in off}
        for table in (None, shingle_table):
            res = incremental_dedup(
                new_docs, docs, threshold=0.5, base_shingle_table=table
            )
            plan = res._jdf.queryExecution().executedPlan().toString()
            assert "MapInArrow kernel(" in plan, plan
            assert as_set(res) == off

    def test_incremental_gated_has_no_broadcast(self, docs):
        new_docs = docs.limit(50).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        res = incremental_dedup(
            new_docs, docs, threshold=0.5, broadcast_pairs_budget=0,
            shingle_broadcast_budget=0,
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        # the candidate-cross attach (key id_a) must not broadcast; the
        # final per-new-doc assembly left-joins may still auto-broadcast
        # from size estimates (correct at any scale: their build side is
        # bounded by the DELTA, not the corpus)
        attach_lines = [
            ln for ln in plan.splitlines() if "Join" in ln and "id_a" in ln
        ]
        assert attach_lines and all(
            "Broadcast" not in ln for ln in attach_lines
        ), attach_lines


class TestAutoShingleLayout:
    """shingle_table="auto" (r13): a stored layout of the EXACT corpus is
    auto-selected; anything derived/filtered/changed never matches."""

    @pytest.fixture(scope="class")
    def bare_docs(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet")

    @pytest.fixture(scope="class")
    def auto_table(self, spark, bare_docs, tmp_path_factory):
        from truthound_spark.pipeline.dedup import write_shingle_layout

        loc = str(tmp_path_factory.mktemp("auto_sh_db"))
        return write_shingle_layout(
            bare_docs, "t_auto_shingles", buckets=8, location=loc
        )

    def test_probe_finds_layout_for_bare_scan(self, bare_docs, auto_table):
        from truthound_spark.pipeline.dedup import find_shingle_layout

        assert find_shingle_layout(bare_docs) == auto_table

    def test_auto_selected_plan_reads_bucketed(self, bare_docs, auto_table):
        # default args — no opt-in — must pick the stored bucketed table
        pairs = minhash_dedup_pairs(
            bare_docs, threshold=0.5, broadcast_pairs_budget=0
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan

    def test_auto_results_identical_to_inline(self, bare_docs, auto_table):
        auto = _pairs_set(minhash_dedup_pairs(bare_docs, threshold=0.5))
        inline = _pairs_set(
            minhash_dedup_pairs(bare_docs, threshold=0.5, shingle_table=None)
        )
        assert auto == inline and auto

    def test_filtered_frame_never_matches(self, bare_docs, auto_table):
        from truthound_spark.pipeline.dedup import find_shingle_layout

        assert (
            find_shingle_layout(bare_docs.filter(F.col("doc_id") % 2 == 0))
            is None
        )

    def test_param_mismatch_never_matches(self, bare_docs, auto_table):
        from truthound_spark.pipeline.dedup import find_shingle_layout

        assert find_shingle_layout(bare_docs, shingle_n=5) is None
        assert find_shingle_layout(bare_docs, text_col="lang") is None

    def test_in_place_rewrite_never_matches(self, spark, tmp_path_factory):
        """ADVICE r13 (medium): files rewritten IN PLACE under the same
        names must change the source fingerprint — path-only identity
        would silently serve a layout of the OLD corpus."""
        import pandas as pd

        from truthound_spark.pipeline.dedup import _source_fingerprint

        d = tmp_path_factory.mktemp("rewrite_corpus")
        f = str(d / "data.parquet")  # fixed name, as fixed-name writers do
        pd.DataFrame({"doc_id": [1, 2], "text": ["old corpus", "rows"]}).to_parquet(f)
        fp_old = _source_fingerprint(spark.read.parquet(str(d)))
        fp_old_again = _source_fingerprint(spark.read.parquet(str(d)))
        assert fp_old is not None and fp_old == fp_old_again  # deterministic
        # same path, new content (length and mtime both move)
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["entirely new corpus contents", "x"]}
        ).to_parquet(f)
        spark.catalog.clearCache()
        fp_new = _source_fingerprint(spark.read.parquet(str(d)))
        assert fp_new is not None and fp_new != fp_old

    def test_paths_only_fallback_is_tagged(self, spark, sf_dir, monkeypatch):
        """A probe that cannot list statuses degrades to the path-only
        digest under a distinct 'paths-only:' tag — it can never equal
        (and thus never silently match) a status-tagged fingerprint."""
        import truthound_spark.pipeline.dedup as dd

        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        fp_full = dd._source_fingerprint(df)
        monkeypatch.setattr(dd, "_file_statuses", lambda s, f: None)
        fp_fallback = dd._source_fingerprint(df)
        assert fp_fallback.startswith("paths-only:")
        assert fp_full is not None and not fp_full.startswith("paths-only:")
        assert fp_fallback != fp_full

    def test_dedup_clusters_passthrough(self, bare_docs, auto_table):
        from truthound_spark.pipeline.dedup import dedup_clusters

        # (no plan pin here: the cluster output plan is the components
        # join over the materialized pair RDD — the bucketed scan lives
        # in the pair stage, pinned by test_auto_selected_plan_reads_bucketed)
        auto = dedup_clusters(bare_docs, threshold=0.5)
        inline = dedup_clusters(bare_docs, threshold=0.5, shingle_table=None)
        as_set = lambda df: {  # noqa: E731
            (r["doc_id"], r["cluster_id"], r["is_canonical"]) for r in df.collect()
        }
        assert as_set(auto) == as_set(inline)


class TestDedupIndex:
    @pytest.fixture(scope="class")
    def split(self, docs):
        new = docs.filter(F.col("doc_id") % 2 == 1)
        base = docs.filter(F.col("doc_id") % 2 == 0)
        return new, base

    @pytest.fixture(scope="class")
    def index(self, spark, split, tmp_path_factory):
        from truthound_spark.pipeline.dedup import write_dedup_index

        _, base = split
        loc = str(tmp_path_factory.mktemp("dedup_idx"))
        return write_dedup_index(
            base, "t_idx", max_bucket_size=None, buckets=8, location=loc
        )

    def test_matches_union_based_incremental(self, split, index):
        from truthound_spark.pipeline.dedup import incremental_dedup_indexed

        new, base = split
        want = {
            (r["id"], r["dup_of"], r["match_kind"])
            for r in incremental_dedup(
                new, base, threshold=0.7, max_bucket_size=None
            ).collect()
        }
        got = {
            (r["id"], r["dup_of"], r["match_kind"])
            for r in incremental_dedup_indexed(new, index, threshold=0.7).collect()
        }
        assert got == want
        assert any(k is not None for _, _, k in got)  # real matches exist

    def test_prefix_string_form(self, split, index):
        from truthound_spark.pipeline.dedup import incremental_dedup_indexed

        new, _ = split
        via_dict = incremental_dedup_indexed(new, index).count()
        via_prefix = incremental_dedup_indexed(new, "t_idx").count()
        assert via_dict == via_prefix == new.count()

    def test_prefix_form_recovers_index_from_sidecars(
        self, spark, split, index, tmp_path_factory
    ):
        # the session-restart story (r13): the prefix-string form names
        # tables a fresh catalog wouldn't know — with location= the three
        # member tables are attached from their on-disk sidecars. The
        # fresh catalog is simulated by resolving under a DIFFERENT
        # database name, where none of the tables exist yet.
        from truthound_spark.layout import _table_location
        from truthound_spark.pipeline.dedup import incremental_dedup_indexed

        new, _ = split

        tbl_loc = _table_location(spark, index["lsh"])
        db_loc = tbl_loc.rsplit("/", 1)[0]
        want = {
            (r["id"], r["dup_of"], r["match_kind"])
            for r in incremental_dedup_indexed(new, index).collect()
        }
        got = {
            (r["id"], r["dup_of"], r["match_kind"])
            for r in incremental_dedup_indexed(
                new, "t_idx", database="truthound_recovered_idx",
                location=db_loc,
            ).collect()
        }
        assert got == want

    def test_meta_enforced(self, spark, split, tmp_path_factory):
        from truthound_spark.layout import write_bucketed
        from truthound_spark.pipeline.dedup import incremental_dedup_indexed

        new, base = split
        loc = str(tmp_path_factory.mktemp("not_idx"))
        t = write_bucketed(
            base.select(F.col("doc_id").alias("id"), F.lit(0).alias("band"),
                        F.lit(0).alias("bucket")),
            "t_not_an_index", ["band", "bucket"], buckets=2, location=loc,
        )
        with pytest.raises(ValueError, match="truthound.dedup.meta"):
            incremental_dedup_indexed(
                new, {"fingerprints": t, "shingles": t, "lsh": t}
            )

    def test_stale_banding_version_raises(
        self, spark, split, index, tmp_path_factory
    ):
        # an index persisted by an older banding function must raise at
        # probe time, not silently return zero near-duplicates (r14:
        # banding v2 hashes the minhash longs directly; v1 hashed their
        # stringified concat — stored and live buckets would never match)
        import json

        from truthound_spark.pipeline.dedup import incremental_dedup_indexed

        new, _ = split
        stale = dict(
            json.loads(
                spark.sql(
                    f"SHOW TBLPROPERTIES {index['lsh']} ('truthound.dedup.meta')"
                ).collect()[0]["value"]
            ),
            version=1,
        )
        spark.sql(
            f"ALTER TABLE {index['lsh']} SET TBLPROPERTIES "
            f"('truthound.dedup.meta' = '{json.dumps(stale)}')"
        )
        try:
            with pytest.raises(ValueError, match="banding +version 1"):
                incremental_dedup_indexed(new, index, threshold=0.7)
        finally:
            fresh = dict(stale)
            from truthound_spark.pipeline.dedup import DEDUP_INDEX_VERSION

            fresh["version"] = DEDUP_INDEX_VERSION
            spark.sql(
                f"ALTER TABLE {index['lsh']} SET TBLPROPERTIES "
                f"('truthound.dedup.meta' = '{json.dumps(fresh)}')"
            )

    def test_write_time_bucket_cap_is_enforced(self, spark, split, tmp_path_factory):
        from truthound_spark.pipeline.dedup import write_dedup_index

        _, base = split
        loc = str(tmp_path_factory.mktemp("capped_idx"))
        idx = write_dedup_index(
            base, "t_idx_capped", max_bucket_size=3, buckets=4, location=loc
        )
        worst = (
            spark.table(idx["lsh"])
            .groupBy("band", "bucket")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert worst <= 3

    def test_delta_side_cap_bounds_entries_and_keeps_results_here(
        self, split, index
    ):
        from truthound_spark.pipeline.dedup import incremental_dedup_indexed

        new, _ = split
        exact = {
            (r["id"], r["dup_of"])
            for r in incremental_dedup_indexed(
                new, index, threshold=0.7, max_bucket_size=None
            ).collect()
        }
        capped = {
            (r["id"], r["dup_of"])
            for r in incremental_dedup_indexed(
                new, index, threshold=0.7, max_bucket_size=512
            ).collect()
        }
        # no bucket in this corpus exceeds the default cap, so the guard
        # must be a no-op on results (it only ever bounds WORK)
        assert capped == exact
