"""Round-5 operators: BPE tokenizer training, cluster-aware split,
ANN recall evaluation.

The BPE trainer is pinned against an independent pure-Python reference
implementation of the canonical algorithm (pair counting over word
frequencies + greedy left-to-right merge), not against its own string
machinery — so a delimiter bug can't self-certify.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# python reference BPE (independent of the Spark implementation)
# ---------------------------------------------------------------------------


def _ref_bpe(word_freqs: dict[str, int], rounds: int, min_count: int = 2):
    vocab = {tuple(w): n for w, n in word_freqs.items()}
    merges = []
    for r in range(1, rounds + 1):
        pairs: Counter = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        # max by (count, then lexicographically smallest pair)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (x, y), c = best
        if c < min_count:
            break
        merges.append((r, x, y, x + y, c))
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges, vocab


def _tokenize_words(text: str) -> list[str]:
    import re

    t = re.sub(r"[^a-z0-9\s]", " ", text.lower())
    return [w for w in re.sub(r"\s+", " ", t).strip().split(" ") if w]


CORPUS = [
    (1, "low low low low low"),
    (2, "lower lower newest newest"),
    (3, "newest newest newest widest widest"),
    (4, "the lowest newest widest low"),
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_bpe_train_matches_python_reference(spark, corpus_df):
    from truthound_spark.pipeline.tokenizer import bpe_train

    freqs: Counter = Counter()
    for _, text in CORPUS:
        freqs.update(_tokenize_words(text))
    expected, _ = _ref_bpe(dict(freqs), rounds=8)
    got = [
        (r["round"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(corpus_df, rounds=8).orderBy("round").collect()
    ]
    assert got == expected


def test_bpe_token_counts_matches_reference_tokenization(spark, corpus_df):
    from truthound_spark.pipeline.tokenizer import bpe_token_counts, bpe_train

    merges = bpe_train(corpus_df, rounds=8)
    got = {
        r["id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_token_counts(corpus_df, merges).collect()
    }
    # reference: apply the same merges greedily per word
    mlist = [(r["left"], r["right"]) for r in merges.orderBy("round").collect()]
    for doc_id, text in CORPUS:
        words = _tokenize_words(text)
        total = 0
        for w in words:
            syms = list(w)
            for x, y in mlist:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                        out.append(x + y)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            total += len(syms)
        assert got[doc_id] == (len(words), total), doc_id


def test_bpe_token_count_decreases_with_rounds(spark, corpus_df):
    from truthound_spark.pipeline.tokenizer import bpe_token_counts, bpe_train

    def total(rounds):
        m = bpe_train(corpus_df, rounds=rounds)
        return bpe_token_counts(corpus_df, m).agg(F.sum("n_tokens")).collect()[0][0]

    assert total(8) <= total(4)
    # zero merges = plain character count of normalized words
    chars = sum(len(w) for _, tx in CORPUS for w in _tokenize_words(tx))
    assert (
        bpe_token_counts(corpus_df, []).agg(F.sum("n_tokens")).collect()[0][0]
        == chars
    )


def test_bpe_train_early_stop_on_exhausted_vocab(spark):
    from truthound_spark.pipeline.tokenizer import bpe_train

    df = spark.createDataFrame([(1, "ab ab cd")], "doc_id long, text string")
    m = bpe_train(df, rounds=50)  # far more rounds than merges available
    rows = m.collect()
    assert 0 < len(rows) < 50
    # the only pair reaching min_count=2 is (a, b)
    assert (rows[0]["left"], rows[0]["right"]) == ("a", "b")


def test_bpe_empty_and_single_char_words(spark):
    from truthound_spark.pipeline.tokenizer import bpe_token_counts

    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "!!!")], "doc_id long, text string"
    )
    got = {r["id"]: (r["n_words"], r["n_tokens"]) for r in bpe_token_counts(df, []).collect()}
    assert got[1] == (3, 3)
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)


# ---------------------------------------------------------------------------
# split_by_cluster
# ---------------------------------------------------------------------------


def test_split_by_cluster_never_straddles(spark):
    from truthound_spark.pipeline.export import split_by_cluster

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(i, i % 40) for i in range(200)], "id long, cluster_id long"
    )
    out = split_by_cluster(docs, clusters, val_fraction=0.2)
    assert out.count() == 200
    straddle = (
        out.groupBy("cluster_key")
        .agg(F.countDistinct("side").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert straddle == 0
    sides = {r["side"] for r in out.select("side").distinct().collect()}
    assert sides == {"train", "val"}


def test_split_by_cluster_singletons_use_own_id(spark):
    from truthound_spark.pipeline.export import split_by_cluster

    docs = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    empty_clusters = spark.createDataFrame([], "id long, cluster_id long")
    out = {r["id"]: r["cluster_key"] for r in split_by_cluster(docs, empty_clusters).collect()}
    assert out == {1: 1, 2: 2}


def test_split_by_cluster_bad_fraction(spark):
    from truthound_spark.pipeline.export import split_by_cluster

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    c = spark.createDataFrame([], "id long, cluster_id long")
    with pytest.raises(ValueError):
        split_by_cluster(docs, c, val_fraction=1.0)


# ---------------------------------------------------------------------------
# ann_recall
# ---------------------------------------------------------------------------


def _topk_df(spark, rows):
    return spark.createDataFrame(rows, "query_id long, id long, rank int")


def test_ann_recall_exact_vs_itself_is_one(spark):
    from truthound_spark.pipeline.similarity import ann_recall

    e = _topk_df(spark, [(1, 10, 1), (1, 11, 2), (2, 20, 1)])
    out = {r["query_id"]: r["recall"] for r in ann_recall(e, e, k=2).collect()}
    assert out == {1: 1.0, 2: 1.0}


def test_ann_recall_partial_and_missing_queries(spark):
    from truthound_spark.pipeline.similarity import ann_recall

    exact = _topk_df(spark, [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2)])
    approx = _topk_df(spark, [(1, 10, 1), (1, 99, 2)])  # query 2 dropped
    rows = {r["query_id"]: r for r in ann_recall(approx, exact, k=2).collect()}
    assert rows[1]["n_hit"] == 1 and rows[1]["recall"] == 0.5
    assert rows[2]["n_hit"] == 0 and rows[2]["recall"] == 0.0


def test_ann_recall_respects_k_cutoff(spark):
    from truthound_spark.pipeline.similarity import ann_recall

    exact = _topk_df(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
    approx = _topk_df(spark, [(1, 12, 1), (1, 10, 2), (1, 11, 3)])
    out = ann_recall(approx, exact, k=2).collect()[0]
    # approx rank 3 (id=11) is beyond k; exact top-2 = {10, 11} -> 1 hit
    assert out["n_exact"] == 2 and out["n_hit"] == 1


# ---------------------------------------------------------------------------
# temperature_weights / decontaminate_multi
# ---------------------------------------------------------------------------


def test_temperature_weights_sum_to_one_and_order(spark):
    from truthound_spark.pipeline.export import temperature_weights

    docs = spark.createDataFrame(
        [(i, "word " * (10 if i % 3 else 100), f"src{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    out = temperature_weights(docs, alpha=0.3).collect()
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-4
    # alpha < 1 compresses: the big source's weight share is SMALLER than
    # its token share
    tok = {r["source"]: r["available_tokens"] for r in out}
    w = {r["source"]: r["weight"] for r in out}
    big = max(tok, key=tok.get)
    assert w[big] < tok[big] / sum(tok.values())


def test_temperature_weights_alpha_one_is_natural(spark):
    from truthound_spark.pipeline.export import temperature_weights

    docs = spark.createDataFrame(
        [(1, "a b c d", "x"), (2, "a b c d a b c d", "y")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in temperature_weights(docs, alpha=1.0).collect()}
    tot = out["x"]["available_tokens"] + out["y"]["available_tokens"]
    assert abs(out["x"]["weight"] - out["x"]["available_tokens"] / tot) < 1e-5


def test_temperature_weights_bad_alpha(spark):
    import pytest as _pytest

    from truthound_spark.pipeline.export import temperature_weights

    docs = spark.createDataFrame([(1, "a", "x")], "doc_id long, text string, source string")
    with _pytest.raises(ValueError):
        temperature_weights(docs, alpha=0)


def test_decontaminate_multi_equals_per_suite_runs(spark):
    from truthound_spark.pipeline.dedup import decontaminate, decontaminate_multi

    docs = spark.createDataFrame(
        [
            (i, f"common phrase shared tokens here doc {i % 7} tail tail tail")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    train = docs.filter(F.col("doc_id") % 2 == 0)
    sa = docs.filter(F.col("doc_id") % 4 == 1)
    sb = docs.filter(F.col("doc_id") % 4 == 3)
    multi = {
        (r["doc_id"], r["benchmark"]): r["overlap_ngrams"]
        for r in decontaminate_multi(train, {"suite_a": sa, "suite_b": sb}).collect()
    }
    for name, suite in (("suite_a", sa), ("suite_b", sb)):
        single = {
            (r["doc_id"], name): r["overlap_ngrams"]
            for r in decontaminate(train, suite).collect()
        }
        got = {k: v for k, v in multi.items() if k[1] == name}
        assert got == single, name


def test_decontaminate_multi_empty_dict_raises(spark):
    import pytest as _pytest

    from truthound_spark.pipeline.dedup import decontaminate_multi

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        decontaminate_multi(docs, {})


# ---------------------------------------------------------------------------
# tag_documents (fused one-pass tagger)
# ---------------------------------------------------------------------------


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_tag_documents_is_one_pass_no_shuffle(spark, tmp_path):
    from truthound_spark.pipeline.text import tag_documents

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"the quick brown fox {i}\nthe quick brown fox {i}") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    out = tag_documents(spark.read.parquet(p))
    plan = _formatted_plan(out)
    import re

    # ONE corpus pass: exactly one scan node in the details section
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "Exchange" not in plan  # zero shuffles
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_tag_documents_columns_match_individual_taggers(spark):
    from truthound_spark.pipeline.text import (
        classifier_quality_score,
        detect_languages,
        fingerprint_documents,
        quality_score,
        repetition_signals,
        tag_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "la la la la la la"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    fused = {r["doc_id"]: r for r in tag_documents(docs).collect()}
    for maker, cols in [
        (quality_score, ["quality_score", "stopword_ratio", "n_words"]),
        (detect_languages, ["predicted_lang"]),
        (fingerprint_documents, ["fingerprint"]),
        (repetition_signals, ["dup_line_fraction", "dup_word_fraction"]),
        (classifier_quality_score, ["classifier_score"]),
    ]:
        for r in maker(docs).collect():
            for c in cols:
                assert fused[r["doc_id"]][c] == r[c], (maker.__name__, c)


def test_bpe_vocab_matches_python_reference(spark, corpus_df):
    from truthound_spark.pipeline.tokenizer import bpe_train, bpe_vocab

    freqs: Counter = Counter()
    for _, text in CORPUS:
        freqs.update(_tokenize_words(text))
    _, ref_vocab = _ref_bpe(dict(freqs), rounds=8)
    ref_counts: Counter = Counter()
    for syms, n in ref_vocab.items():
        for s in syms:
            ref_counts[s] += n
    merges = bpe_train(corpus_df, rounds=8)
    got = {r["token"]: r["n"] for r in bpe_vocab(corpus_df, merges).collect()}
    assert got == dict(ref_counts)


def test_bpe_vocab_coverage_curve(spark, corpus_df):
    from truthound_spark.pipeline.tokenizer import bpe_train, bpe_vocab

    merges = bpe_train(corpus_df, rounds=4)
    rows = bpe_vocab(corpus_df, merges).orderBy("rank").collect()
    cums = [r["cum_coverage"] for r in rows]
    assert cums == sorted(cums)  # monotone non-decreasing
    assert abs(cums[-1] - 1.0) < 1e-5  # full curve ends at 1
    assert rows[0]["n"] >= rows[-1]["n"]  # ranked by count desc


# ---------------------------------------------------------------------------
# mine_bitext (margin-based alignment)
# ---------------------------------------------------------------------------


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_mine_bitext_finds_planted_pairs(spark):
    from truthound_spark.pipeline.align import mine_bitext

    # src i and tgt i share (nearly) the same direction; others orthogonal-ish
    src = _vec_df(spark, [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])])
    tgt = _vec_df(
        spark,
        [
            (11, [0.99, 0.1, 0.0]),
            (12, [0.1, 0.99, 0.0]),
            (13, [0.0, 0.1, 0.99]),
        ],
    )
    got = {(r["src_id"], r["tgt_id"]) for r in mine_bitext(src, tgt, k=2).collect()}
    assert got == {(1, 11), (2, 12), (3, 13)}


def test_mine_bitext_shared_id_space_not_dropped(spark):
    """Regression: brute_force_topk's self-exclusion must NOT apply
    cross-corpus — numerically equal ids are different documents."""
    from truthound_spark.pipeline.align import mine_bitext

    src = _vec_df(spark, [(1, [1.0, 0.0])])
    tgt = _vec_df(spark, [(1, [1.0, 0.01])])  # same id, best (only) match
    out = mine_bitext(src, tgt, k=1).collect()
    assert len(out) == 1 and out[0]["src_id"] == 1 and out[0]["tgt_id"] == 1


def test_mine_bitext_min_margin_filters(spark):
    from truthound_spark.pipeline.align import mine_bitext

    src = _vec_df(spark, [(1, [1.0, 0.0]), (2, [0.7, 0.7])])
    tgt = _vec_df(spark, [(11, [1.0, 0.05]), (12, [0.7, 0.72])])
    all_pairs = mine_bitext(src, tgt, k=2).collect()
    strict = mine_bitext(src, tgt, k=2, min_margin=999.0).collect()
    assert len(all_pairs) >= 1 and strict == []


def test_mine_bitext_mutual_false_keeps_every_src(spark):
    from truthound_spark.pipeline.align import mine_bitext

    src = _vec_df(spark, [(1, [1.0, 0.0]), (2, [0.9, 0.1])])
    tgt = _vec_df(spark, [(11, [1.0, 0.0])])
    out = mine_bitext(src, tgt, k=1, mutual=False)
    assert out.count() == 2  # both srcs nominate; only one can be mutual
    assert mine_bitext(src, tgt, k=1, mutual=True).count() == 1


def test_brute_force_topk_exclude_self_default_unchanged(spark):
    from truthound_spark.pipeline.similarity import brute_force_topk

    df = _vec_df(spark, [(1, [1.0, 0.0]), (2, [0.9, 0.1])])
    q = df.filter(F.col("vec_id") == 1)
    default = brute_force_topk(df, q, k=5).collect()
    assert all(r["id"] != r["query_id"] for r in default)
    incl = brute_force_topk(df, q, k=5, exclude_self=False).collect()
    assert any(r["id"] == r["query_id"] for r in incl)


# ---------------------------------------------------------------------------
# mine_hard_negatives / curriculum_order
# ---------------------------------------------------------------------------


def test_hard_negatives_excludes_positives_and_ranks_dense(spark):
    from truthound_spark.pipeline.align import mine_hard_negatives

    corpus = _vec_df(
        spark,
        [(i, [1.0 - i * 0.1, i * 0.1]) for i in range(6)],
    )
    q = corpus.filter(F.col("vec_id") == 0).withColumnRenamed("vec_id", "query_id")
    pos = spark.createDataFrame([(0, 1)], "query_id long, vec_id long")
    out = mine_hard_negatives(corpus, q, pos, k=3).collect()
    ids = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert 1 not in ids  # positive excluded
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]


def test_hard_negatives_cosine_band(spark):
    from truthound_spark.pipeline.align import mine_hard_negatives

    corpus = _vec_df(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    q = _vec_df(spark, [(9, [1.0, 0.0])]).withColumnRenamed("vec_id", "query_id")
    pos = spark.createDataFrame([], "query_id long, vec_id long")
    out = mine_hard_negatives(corpus, q, pos, k=5, max_cosine=0.98).collect()
    assert all(r["cosine"] <= 0.98 for r in out)
    assert all(r["id"] == 2 for r in out)  # the cos=1.0 self-alike is banded out


def test_curriculum_order_bands_partition_by_score(spark):
    from truthound_spark.pipeline.export import curriculum_order

    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, score double"
    )
    out = curriculum_order(docs, "score", n_bands=4, n_shards=4)
    rows = out.collect()
    assert len(rows) == 100
    by_id = {r["id"]: r["band"] for r in rows}
    # band 0 = highest scores; each quartile of 25
    for i in range(100):
        assert by_id[i] == min(3, (99 - i) // 25), i
    # positions dense per (band, shard)
    import collections

    pos = collections.defaultdict(list)
    for r in rows:
        pos[(r["band"], r["shard"])].append(r["position"])
    for k_, v in pos.items():
        assert sorted(v) == list(range(1, len(v) + 1)), k_


def test_curriculum_order_ties_share_band(spark):
    from truthound_spark.pipeline.export import curriculum_order

    docs = spark.createDataFrame(
        [(i, 1.0) for i in range(10)] + [(100 + i, 0.0) for i in range(10)],
        "doc_id long, score double",
    )
    out = curriculum_order(docs, "score", n_bands=2, n_shards=2)
    bands = {r["id"]: r["band"] for r in out.collect()}
    assert all(bands[i] == 0 for i in range(10))
    assert all(bands[100 + i] == 1 for i in range(10))


def test_tag_documents_streaming_compatible(spark, tmp_path):
    """tag_documents is map-only, so the same call must work unchanged on
    a streaming DataFrame — the property that lets the tagging stage run
    in the ingestion path (readStream -> tag -> writeStream)."""
    src = str(tmp_path / "stream_in")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "la la la")], "doc_id long, text string"
    ).write.parquet(src)
    from truthound_spark.pipeline.text import tag_documents

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    tagged = tag_documents(stream)
    q = (
        tagged.select("doc_id", "quality_score", "predicted_lang", "classifier_score")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2}


def test_bpe_oracle_early_stop_parity(spark):
    """The generated DuckDB oracle must mirror bpe_train's early stop:
    on a sparse corpus where only ONE pair reaches min_pair_count, both
    sides emit exactly one merge row, and the vocab CTEs pass through
    unchanged instead of emptying (the old cross-join trapdoor)."""
    import duckdb

    from truthound_spark.entry_queries import _BPE_ROUNDS, _bpe_oracle_ctes, _bpe_oracle_sql
    from truthound_spark.pipeline.tokenizer import bpe_train, bpe_vocab

    docs = [(1, "ab ab cd")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got_train = [
        (r["round"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(df, rounds=_BPE_ROUNDS).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    oracle_train = [
        (r[0], r[1], r[2], r[4]) for r in con.execute(_bpe_oracle_sql(_BPE_ROUNDS)).fetchall()
    ]
    assert got_train == oracle_train == [(1, "a", "b", 2)]
    # vocab after the single merge: oracle w{R} must NOT be empty
    vocab_sql = (
        _bpe_oracle_ctes(_BPE_ROUNDS)
        + f" SELECT t AS token, SUM(n) AS n FROM (SELECT n,"
        f" unnest(string_split(trim(sym,'|'),'||')) AS t FROM w{_BPE_ROUNDS})"
        f" GROUP BY 1 ORDER BY 1"
    )
    oracle_vocab = dict(con.execute(vocab_sql).fetchall())
    merges = bpe_train(df, rounds=_BPE_ROUNDS)
    got_vocab = {r["token"]: r["n"] for r in bpe_vocab(df, merges).collect()}
    assert got_vocab == oracle_vocab == {"ab": 2, "c": 1, "d": 1}


def test_curriculum_order_null_scores_keep_rows_lowest_band(spark):
    """Review r5: NULL scores must neither vanish from the export nor
    inflate the band denominator — they sort last, into the lowest
    band, and every input row appears in the output."""
    from truthound_spark.pipeline.export import curriculum_order

    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(100)]
        + [(1000 + i, None) for i in range(50)],
        "doc_id long, score double",
    )
    out = curriculum_order(docs, "score", n_bands=4, n_shards=4)
    rows = out.collect()
    assert len(rows) == 150  # nothing dropped
    bands = {r["id"]: r["band"] for r in rows}
    null_bands = {bands[1000 + i] for i in range(50)}
    assert len(null_bands) == 1  # all NULLs share one band (one tie group)
    # ...and it is never better than any real score's band
    assert min(null_bands) >= max(bands[i] for i in range(100))
    # highest scores still band 0
    assert bands[99] == 0


def test_curation_funnel_accounting(spark):
    from truthound_spark.pipeline.report import curation_funnel

    a = spark.range(100).withColumnRenamed("id", "doc_id")
    b = a.filter(F.col("doc_id") < 60)
    c = b.filter(F.col("doc_id") < 30)
    rows = curation_funnel([("raw", a), ("s1", b), ("s2", c)]).orderBy("stage_idx").collect()
    assert [(r["rows"], r["dropped"]) for r in rows] == [(100, 0), (60, 40), (30, 30)]
    assert rows[1]["drop_rate"] == 0.4 and rows[2]["drop_rate"] == 0.5
    assert rows[2]["keep_rate"] == 0.3


def test_curation_funnel_growth_is_negative_drop(spark):
    from truthound_spark.pipeline.report import curation_funnel

    a = spark.range(10).withColumnRenamed("id", "doc_id")
    grown = a.union(a)  # a stage that (wrongly) grew
    rows = curation_funnel([("raw", a), ("grown", grown)]).orderBy("stage_idx").collect()
    assert rows[1]["dropped"] == -10  # surfaced, not clamped


def test_curation_funnel_empty_raises(spark):
    from truthound_spark.pipeline.report import curation_funnel

    with pytest.raises(ValueError):
        curation_funnel([])


def test_corpus_token_count_validator_with_trained_merges(spark):
    """CorpusTokenCountValidator(merges=...) counts with the TRAINED
    tokenizer inside the fused check() aggregate, and agrees with
    bpe_token_counts exactly."""
    import truthound_spark as th
    from truthound_spark.pipeline.tokenizer import bpe_token_counts, bpe_train
    from truthound_spark.validators.corpus import CorpusTokenCountValidator

    docs = spark.createDataFrame(
        [(i, "low lower lowest " * (1 + i % 3)) for i in range(20)],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, rounds=4)
    per_doc = bpe_token_counts(docs, merges)
    lo, hi = 8, 999
    expect_viol = per_doc.filter(
        (F.col("n_tokens") < lo) | (F.col("n_tokens") > hi)
    ).count()
    expect_total = per_doc.agg(F.sum("n_tokens")).collect()[0][0]
    res = th.check(
        docs,
        validators=[
            CorpusTokenCountValidator(min_tokens=lo, max_tokens=hi, merges=merges)
        ],
    )
    issue = next(
        (i for i in res.issues if i.issue_type == "token_budget_violation"), None
    )
    viol = issue.count if issue else 0
    assert viol == expect_viol
    details = (issue.details or {}) if issue else {}
    if "total_tokens" in details:
        assert int(details["total_tokens"]) == int(expect_total)


def test_soft_dedup_weights_mass_conservation(spark):
    from truthound_spark.pipeline.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "same text"), (4, "unique one")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in soft_dedup_weights(docs).collect()}
    assert out[1]["n_copies"] == 3 and out[1]["weight"] == round(1 / 3, 6)
    assert out[4]["n_copies"] == 1 and out[4]["weight"] == 1.0
    # alpha=1: every family sums to ~1 document of mass
    total = sum(r["weight"] for r in out.values())
    assert abs(total - 2.0) < 1e-4  # 2 distinct contents


def test_soft_dedup_weights_cluster_mode(spark):
    from truthound_spark.pipeline.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(i, i % 2) for i in range(6)], "id long, cluster_id long"
    )
    out = soft_dedup_weights(docs, clusters=clusters, alpha=0.5).collect()
    assert all(r["n_copies"] == 3 for r in out)
    import math

    assert all(abs(r["weight"] - round(1 / math.sqrt(3), 6)) < 1e-9 for r in out)


# ---------------------------------------------------------------------------
# LSH bucket-size skew guard
# ---------------------------------------------------------------------------


def test_lsh_max_bucket_size_caps_quadratic_blowup(spark):
    from truthound_spark.pipeline.dedup import minhash_lsh_candidates

    n = 60
    docs = spark.createDataFrame(
        [(i, "exact same boilerplate cookie banner text appears here") for i in range(n)],
        "doc_id long, text string",
    )
    uncapped = minhash_lsh_candidates(docs).count()
    assert uncapped == n * (n - 1) // 2  # the quadratic monster bucket
    capped = minhash_lsh_candidates(docs, max_bucket_size=10)
    rows = capped.collect()
    assert len(rows) == n - 1  # star edges only
    assert all(r["id_a"] == 0 for r in rows)  # bucket-min is the hub


def test_lsh_max_bucket_size_preserves_cluster_connectivity(spark):
    from truthound_spark.pipeline.dedup import connected_components, minhash_lsh_candidates

    docs = spark.createDataFrame(
        [(i, "identical body of repeated boilerplate text for the skew test") for i in range(40)]
        + [(100 + i, f"genuinely unique document number {i} with its own words {i}") for i in range(5)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_candidates(docs, max_bucket_size=8)
    clusters = connected_components(pairs)
    # all 40 boilerplate docs in ONE cluster rooted at 0
    got = {r["id"]: r["cluster_id"] for r in clusters.collect()}
    assert all(got[i] == 0 for i in range(40))


def test_lsh_small_buckets_unaffected_by_cap(spark):
    from truthound_spark.pipeline.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different content with other words entirely here"),
        ],
        "doc_id long, text string",
    )
    base = sorted(map(tuple, minhash_lsh_candidates(docs).collect()))
    capped = sorted(map(tuple, minhash_lsh_candidates(docs, max_bucket_size=100).collect()))
    assert base == capped == [(1, 2)]


def test_lsh_pairs_identical_under_duplicate_band_buckets(spark):
    """r14: the capped branch expands pairs from DISTINCT member sets —
    on exact-copy groups every band's bucket holds the same sorted id
    list, so per-band expansion emitted each pair bands× redundantly.
    The pair set must be identical to exact all-pairs mode (and to the
    C(n,2) ground truth) on a corpus made entirely of copy groups."""
    from truthound_spark.pipeline.dedup import minhash_lsh_candidates

    texts = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett",
        "one two three four five six seven eight nine ten eleven twelve",
        "red orange yellow green blue indigo violet magenta cyan white",
    ]
    rows = []
    for g, text in enumerate(texts):  # 3 distinct groups x 6 exact copies
        for i in range(6):
            rows.append((g * 10 + i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (g * 10 + i, g * 10 + j)
        for g in range(3)
        for i in range(6)
        for j in range(i + 1, 6)
    )
    capped = sorted(map(tuple, minhash_lsh_candidates(docs).collect()))
    exact = sorted(
        map(tuple, minhash_lsh_candidates(docs, max_bucket_size=None).collect())
    )
    assert capped == exact == want


# ---------------------------------------------------------------------------
# ivfpq_search
# ---------------------------------------------------------------------------


def test_ivfpq_all_cells_probed_equals_pq_search(spark):
    """With nprobe = num_cells (no pruning), IVF-PQ must return exactly
    pq_search's ranking — the composition adds pruning, nothing else."""
    from truthound_spark.pipeline.similarity import ivfpq_search, pq_search, pq_train

    rows = [(i, [float((i * 7 + j * 3) % 11) / 11 + 0.1 for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    books = pq_train(df, m=2, k=4, iters=1)
    full = {
        (r["query_id"], r["rank"]): (r["id"], r["adc_dist"])
        for r in pq_search(df, q, books, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): (r["id"], r["adc_dist"])
        for r in ivfpq_search(
            df, q, k=5, num_cells=4, nprobe=4, m=2, pq_k=4, iters=1, codebooks=books
        ).collect()
    }
    assert ivf == full


def test_ivfpq_pruning_returns_subset_of_probed_cells(spark):
    from truthound_spark.pipeline.similarity import ivfpq_search

    rows = [(i, [float((i * 5 + j) % 13) / 13 + 0.05 for j in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 2).withColumnRenamed("vec_id", "query_id")
    out = ivfpq_search(df, q, k=5, num_cells=6, nprobe=1, m=2, pq_k=4, iters=1)
    assert out.count() > 0
    assert out.filter(F.col("rank") > 5).count() == 0
    # fewer probes can only shrink the candidate pool
    wide = ivfpq_search(df, q, k=60, num_cells=6, nprobe=6, m=2, pq_k=4, iters=1)
    narrow = ivfpq_search(df, q, k=60, num_cells=6, nprobe=1, m=2, pq_k=4, iters=1)
    assert narrow.count() <= wide.count()


def test_blocklist_filter_word_mode_normalizes(spark):
    from truthound_spark.pipeline.text import blocklist_filter

    docs = spark.createDataFrame(
        [(1, "This has a B.A.D word inside"), (2, "totally clean text here"),
         (3, "bad BAD b-a-d everywhere")],
        "doc_id long, text string",
    )
    # a term that normalization SPLITS is rejected loudly in word mode
    with pytest.raises(ValueError, match="multi-word"):
        blocklist_filter(docs, ["B.a.d"])
    # ...but matches in phrase mode
    ph = {r["id"]: r for r in blocklist_filter(docs, ["B.a.d"], mode="phrase").collect()}
    assert ph[1]["blocked"] is True and ph[2]["blocked"] is False
    # "bad" appears as a whole word in doc 3
    out2 = {r["id"]: r for r in blocklist_filter(docs, ["BAD!"]).collect()}
    assert out2[3]["blocked"] is True and "bad" in out2[3]["matched_terms"]
    assert out2[2]["blocked"] is False


def test_blocklist_filter_phrase_mode(spark):
    from truthound_spark.pipeline.text import blocklist_filter

    docs = spark.createDataFrame(
        [(1, "click here to win now"), (2, "click elsewhere to win")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in blocklist_filter(docs, ["click here"], mode="phrase").collect()}
    assert out[1]["blocked"] is True
    assert out[2]["blocked"] is False


def test_blocklist_filter_validations(spark):
    from truthound_spark.pipeline.text import blocklist_filter

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        blocklist_filter(docs, [])
    with pytest.raises(ValueError):
        blocklist_filter(docs, ["!!!"])
    with pytest.raises(ValueError):
        blocklist_filter(docs, ["ok"], mode="regex")


def test_pq_search_handles_non_contiguous_cell_ids(spark):
    """Review r5: a Lloyd round can empty a cell, leaving codebooks with
    non-contiguous cell ids — the ADC LUT must index BY CELL ID, not by
    position, or rankings silently misread (or ANSI-crash)."""
    from truthound_spark.pipeline.similarity import pq_search

    # hand-built codebooks with a hole: cells [0, 2] (1 vanished)
    books = [
        [(0, [0.0, 0.0]), (2, [1.0, 1.0])],
        [(0, [0.0, 0.0]), (2, [1.0, 1.0])],
    ]
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, 1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(9, [1.0, 1.0, 1.0, 1.0])], "query_id long, embedding array<double>"
    )
    out = {r["id"]: r for r in pq_search(df, q, books, k=2).collect()}
    # doc 2 encodes to cell 2 in both subspaces -> adc 0 vs the query
    assert out[2]["rank"] == 1 and out[2]["adc_dist"] == 0.0
    assert out[1]["rank"] == 2 and out[1]["adc_dist"] == 4.0


def _with_null_vectors(spark):
    """Vectors 0..19 plus NULL vectors at the lowest id (-1) and at a high
    one (99); the queries are vectors 0 and 1."""
    rows = [(i, [float((i * 7 + j * 3) % 11) / 11 + 0.1 for j in range(8)]) for i in range(20)]
    rows += [(-1, None), (99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, df.filter(F.col("vec_id").between(0, 1))


def test_pq_and_ivfpq_ignore_null_vectors(spark):
    from truthound_spark.pipeline.similarity import ivfpq_search, pq_search, pq_train

    df, q = _with_null_vectors(spark)
    q = q.withColumnRenamed("vec_id", "query_id")
    nulls = F.col("id").isin(-1, 99)
    books = pq_train(df, m=2, k=4, iters=1)
    assert pq_search(df, q, books, k=5).filter(nulls).count() == 0
    out = ivfpq_search(df, q, k=5, num_cells=4, nprobe=4, m=2, pq_k=4, iters=1, codebooks=books)
    assert out.filter(nulls).count() == 0


def test_null_vector_never_seeds_a_cell(spark, tmp_path):
    """A NULL vector at the lowest id is never a default coarse cell: a
    NULL centroid makes every row's d2 NULL, which sorts first in the
    nearest-cell window and pulls every row into that one cell. The
    cells are the 4 lowest NON-NULL ids, and the null rows change no
    real neighbor of the IVF searches."""
    from truthound_spark.pipeline.dedup import semantic_dedup
    from truthound_spark.pipeline.similarity import (
        ivf_build_index,
        ivf_search_index,
        ivf_seeded_topk,
    )

    df, q = _with_null_vectors(spark)
    seeds = {0, 1, 2, 3}
    cells = {r["cell"] for r in semantic_dedup(df, num_cells=4, threshold=0.99).collect()}
    assert cells <= seeds
    path = str(tmp_path / "idx")
    ivf_build_index(df, path, num_cells=4)
    assert {r["cell"] for r in spark.read.parquet(f"{path}/centroids").collect()} == seeds
    clean = df.where(F.col("embedding").isNotNull())
    want = sorted(map(tuple, ivf_seeded_topk(clean, q, k=3, num_cells=4, nprobe=1).collect()))
    real = ~F.col("id").isin(-1, 99)
    for out in (
        ivf_seeded_topk(df, q, k=3, num_cells=4, nprobe=1),
        ivf_search_index(spark, path, q, k=3, nprobe=1),
    ):
        assert sorted(map(tuple, out.filter(real).collect())) == want


def test_curation_funnel_zero_stage_rates_are_null(spark):
    from truthound_spark.pipeline.report import curation_funnel

    empty = spark.range(0).withColumnRenamed("id", "doc_id")
    grown = spark.range(100).withColumnRenamed("id", "doc_id")
    rows = curation_funnel([("raw", empty), ("grown", grown)]).orderBy("stage_idx").collect()
    assert rows[1]["dropped"] == -100  # the anomaly stays visible...
    assert rows[1]["drop_rate"] is None  # ...and rates don't fake health
    assert rows[0]["keep_rate"] is None and rows[1]["keep_rate"] is None


def test_soft_dedup_cluster_mode_keeps_singletons(spark):
    """Review r5: docs absent from the cluster frame (e.g.
    connected_components only emits paired docs) must appear with
    n_copies=1, weight=1.0 — not vanish."""
    from truthound_spark.pipeline.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "id long, cluster_id long"  # only the dup family
    )
    out = {r["id"]: r for r in soft_dedup_weights(docs, clusters=clusters).collect()}
    assert len(out) == 10  # every corpus doc present
    assert out[0]["n_copies"] == 3 and out[0]["weight"] == round(1 / 3, 6)
    for i in range(3, 10):
        assert out[i]["n_copies"] == 1 and out[i]["weight"] == 1.0


def test_bpe_tokenize_matches_counts_and_reference(spark, corpus_df):
    from truthound_spark.pipeline.tokenizer import (
        bpe_token_counts,
        bpe_tokenize,
        bpe_train,
    )

    merges = bpe_train(corpus_df, rounds=8)
    toks = {r["id"]: r for r in bpe_tokenize(corpus_df, merges).collect()}
    counts = {r["id"]: r["n_tokens"] for r in bpe_token_counts(corpus_df, merges).collect()}
    for i, r in toks.items():
        assert r["n_tokens"] == counts[i] == len(r["tokens"])
    # reference check on one word: "low" trained on this corpus merges fully
    mlist = [(r["left"], r["right"]) for r in merges.orderBy("round").collect()]
    doc1 = toks[1]["tokens"]
    # doc 1 is "low low low low low" -> each word must be a single token
    # iff the merges chain covers it (they do on this corpus)
    ref = []
    for w in ["low"] * 5:
        syms = list(w)
        for x, y in mlist:
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == x and syms[j + 1] == y:
                    out.append(x + y); j += 2
                else:
                    out.append(syms[j]); j += 1
            syms = out
        ref.extend(syms)
    assert doc1 == ref


def test_pack_sequences_with_tokenizer_true_counts(spark, corpus_df):
    from truthound_spark.pipeline.export import pack_sequences
    from truthound_spark.pipeline.tokenizer import (
        bpe_token_count_expr,
        bpe_train,
        merge_pairs,
    )

    merges = merge_pairs(bpe_train(corpus_df, rounds=8))
    _, n_tokens = bpe_token_count_expr(F.col("text"), merges)
    bins = pack_sequences(
        corpus_df, max_tokens=8, n_shards=2, token_count=n_tokens
    ).collect()
    packed = sorted(d for r in bins for d in r["doc_ids"])
    assert packed == [1, 2, 3, 4]  # every doc packed exactly once
    assert all(r["total_tokens"] <= 8 for r in bins)


def test_ivfpq_residual_mode_shape_and_determinism(spark):
    from truthound_spark.pipeline.similarity import ivfpq_search, ivfpq_train_residual

    rows = [(i, [float((i * 5 + j) % 13) / 13 + 0.05 for j in range(8)]) for i in range(48)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 2).withColumnRenamed("vec_id", "query_id")
    books = ivfpq_train_residual(df, num_cells=4, m=2, pq_k=4, iters=1)
    assert len(books) == 2 and all(len(cb) >= 1 for cb in books)
    a = ivfpq_search(df, q, k=5, num_cells=4, nprobe=2, m=2, pq_k=4, iters=1,
                     residual=True, codebooks=books).collect()
    b = ivfpq_search(df, q, k=5, num_cells=4, nprobe=2, m=2, pq_k=4, iters=1,
                     residual=True, codebooks=books).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    ranks = sorted(r["rank"] for r in a if r["query_id"] == 0)
    assert ranks == list(range(1, len(ranks) + 1))  # dense per-query ranks


def test_pool_embeddings_mean_and_max(spark):
    from truthound_spark.pipeline.similarity import pool_embeddings

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a", [3.0, 2.0]), ("b", [5.0, 5.0])],
        "grp string, embedding array<double>",
    )
    mean = {r["group"]: r for r in pool_embeddings(df, "grp").collect()}
    assert mean["a"]["pooled"] == [2.0, 1.0] and mean["a"]["n_vectors"] == 2
    assert mean["b"]["pooled"] == [5.0, 5.0]
    mx = {r["group"]: r["pooled"] for r in pool_embeddings(df, "grp", mode="max").collect()}
    assert mx["a"] == [3.0, 2.0]


def test_pool_embeddings_normalize_and_l2(spark):
    from truthound_spark.pipeline.similarity import l2_normalize, pool_embeddings

    df = spark.createDataFrame(
        [("a", [3.0, 4.0]), ("z", [0.0, 0.0])], "grp string, embedding array<double>"
    )
    out = {r["group"]: r["pooled"] for r in
           pool_embeddings(df, "grp", normalize=True).collect()}
    assert [round(x, 6) for x in out["a"]] == [0.6, 0.8]
    assert out["z"] == [0.0, 0.0]  # zero vector passes through
    row = df.filter(F.col("grp") == "a").select(
        l2_normalize(F.col("embedding").cast("array<double>")).alias("v")
    ).collect()[0]
    assert [round(x, 6) for x in row["v"]] == [0.6, 0.8]


def test_embedding_drift_detects_planted_shift(spark):
    from truthound_spark.pipeline.similarity import embedding_drift

    base = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 2.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    cur = base.select(
        F.transform(
            F.col("embedding"), lambda x, i: F.when(i == 1, x + 5.0).otherwise(x)
        ).alias("embedding")
    )
    rows = {r["pos"]: r for r in embedding_drift(cur, base).collect()}
    assert rows[1]["shift"] > rows[0]["shift"] and rows[1]["shift"] > rows[2]["shift"]
    assert rows[0]["shift"] == 0.0 and rows[2]["shift"] == 0.0
    top = embedding_drift(cur, base, top_k=1).collect()
    assert len(top) == 1 and top[0]["pos"] == 1


def test_dedup_pair_evidence_shows_shared_ngrams(spark):
    from truthound_spark.pipeline.dedup import dedup_pair_evidence

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a sleepy dog"),
            (3, "entirely different content with other words"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup_pair_evidence(docs, pairs).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_shared"] > 0
    assert "the quick brown" in r["shared_ngrams"]
    assert len(r["shared_ngrams"]) <= 10


def test_trigram_backoff_levels_exercise(spark):
    from truthound_spark.pipeline.text import trigram_backoff_score

    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),     # all trigrams seen
            (3, "the cat sat under a tree"),   # partial backoff
            (5, "zq xv wk pj mn bb"),          # full unigram backoff
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in trigram_backoff_score(score, reference=ref).collect()}
    # seen text scores far better (lower perplexity) than noise
    assert out[1]["perplexity"] < out[3]["perplexity"] < out[5]["perplexity"]
    assert out[1]["n_trigrams"] == 4 and out[5]["n_trigrams"] == 4


def test_trigram_backoff_short_docs_null(spark):
    from truthound_spark.pipeline.text import trigram_backoff_score

    df = spark.createDataFrame([(1, "two words"), (2, "")], "doc_id long, text string")
    out = {r["id"]: r for r in trigram_backoff_score(df).collect()}
    assert out[1]["n_trigrams"] == 0 and out[1]["perplexity"] is None
    assert out[2]["n_trigrams"] == 0


def test_embedding_health_validator_thresholds(spark):
    import truthound_spark as th
    from truthound_spark.validators.corpus import EmbeddingHealthValidator

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    strict = th.check(df, validators=[EmbeddingHealthValidator()])
    assert not strict.success  # one null > max_null=0
    lax = th.check(df, validators=[EmbeddingHealthValidator(max_null=1)])
    assert lax.success
    explicit = th.check(
        df, validators=[EmbeddingHealthValidator(expected_dim=3)]
    )
    dim_issue = next(i for i in explicit.issues if i.issue_type == "dim_mismatch")
    assert dim_issue.count == 2  # both non-null vectors are 2-dim, not 3


def test_pool_embeddings_keeps_empty_groups(spark):
    from truthound_spark.pipeline.similarity import pool_embeddings

    df = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("gone", None), ("empty", [])],
        "grp string, embedding array<double>",
    )
    out = {r["group"]: r for r in pool_embeddings(df, "grp").collect()}
    assert set(out) == {"a", "gone", "empty"}  # nothing vanishes
    assert out["gone"]["n_vectors"] == 0 and out["gone"]["pooled"] is None
    assert out["empty"]["n_vectors"] == 0 and out["empty"]["pooled"] is None
    assert out["a"]["pooled"] == [1.0, 3.0]


def test_dedup_pair_evidence_keeps_missing_doc_pairs(spark):
    from truthound_spark.pipeline.dedup import dedup_pair_evidence

    docs = spark.createDataFrame([(1, "shared words here")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 99)], "id_a long, id_b long")  # 99 deleted
    out = dedup_pair_evidence(docs, pairs).collect()
    assert len(out) == 1
    assert out[0]["n_shared"] == 0 and out[0]["shared_ngrams"] == []


def test_lsh_multiprobe_recall_superset(spark):
    """Multi-probe candidates strictly contain the single-probe ones, so
    per-query result count (and measured recall) can only improve."""
    from truthound_spark.pipeline.similarity import ann_recall, brute_force_topk, lsh_topk

    rows = [(i, [float((i * 7 + j * 5) % 17) / 17 - 0.4 for j in range(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 4)
    single = lsh_topk(df, q, k=5, num_planes=6, probe_hamming=0)
    multi = lsh_topk(df, q, k=5, num_planes=6, probe_hamming=1)
    exact = brute_force_topk(df, q, k=5)
    r1 = ann_recall(single, exact, k=5).agg(F.avg("recall")).collect()[0][0]
    r2 = ann_recall(multi, exact, k=5).agg(F.avg("recall")).collect()[0][0]
    assert r2 >= r1
    with pytest.raises(ValueError):
        lsh_topk(df, q, probe_hamming=2)


def test_dedup_threshold_curve_cumulative_and_bins(spark):
    from truthound_spark.pipeline.dedup import dedup_threshold_curve

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),      # exact dup of 1
            (3, "alpha beta gamma delta epsilon other"),      # near dup
            (4, "totally unrelated text with nothing shared"),
        ],
        "doc_id long, text string",
    )
    rows = dedup_threshold_curve(docs, bin_width=0.25).collect()
    # cumulative is monotone down the bins and ends at the total
    cum = [r["n_pairs_at_least"] for r in rows]
    assert cum == sorted(cum)
    assert cum[-1] == sum(r["n_pairs"] for r in rows)
    # the exact-dup pair lands in the top bin
    assert rows[0]["bin_lo"] >= 0.75 and rows[0]["n_pairs"] >= 1


def test_filter_bitext_pairs_gates(spark):
    """Length-ratio + cross-lingual gates over mined pairs
    (align.filter_bitext_pairs, the CCMatrix post-filter)."""
    from truthound_spark.pipeline.align import filter_bitext_pairs

    pairs = spark.createDataFrame(
        [(1, 11, 0.9, 1.1), (2, 12, 0.8, 1.2), (3, 13, 0.7, 1.3)],
        "src_id long, tgt_id long, cosine double, margin double",
    )
    src = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "ok", "en"), (3, "bonjour", "en")],
        "vec_id long, text string, lang string",
    )
    tgt = spark.createDataFrame(
        [(11, "hallo welt!", "de"), (12, "a much longer sentence here", "de"),
         (13, "salut", "en")],
        "vec_id long, text string, lang string",
    )
    kept = filter_bitext_pairs(
        pairs, src, tgt, text_col="text", max_len_ratio=2.0,
        require_lang_cols=("lang", "lang"),
    ).collect()
    # pair 2 fails the length ratio (2 vs 27 chars); pair 3 fails the
    # cross-lingual gate (en-en); pair 1 survives
    assert [(r["src_id"], r["tgt_id"]) for r in kept] == [(1, 11)]
    assert kept[0]["len_ratio"] == 1.0  # 11 vs 11 chars

    # without the lang gate, ratio keeps pairs 1 and 3; min_margin=1.2
    # then drops pair 1 (margin 1.1) — only pair 3 survives
    assert (
        filter_bitext_pairs(
            pairs, src, tgt, text_col="text", max_len_ratio=2.0,
            min_margin=1.2,
        ).count()
        == 1
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_len_ratio"):
        filter_bitext_pairs(pairs, src, tgt, text_col="text", max_len_ratio=0.5)
    with _pytest.raises(ValueError, match="text_col or len_col"):
        filter_bitext_pairs(pairs, src, tgt)


def test_lsh_guard_on_by_default_and_logs(spark, caplog):
    """VERDICT r10 #3: the skew guard defaults to DEFAULT_MAX_BUCKET_SIZE
    (production mode); None is the explicit exact mode the oracle slots
    pin; engaging the guard logs the observed worst bucket."""
    import logging

    from truthound_spark.pipeline.dedup import (
        DEFAULT_MAX_BUCKET_SIZE,
        minhash_lsh_candidates,
    )

    assert DEFAULT_MAX_BUCKET_SIZE == 512
    n = DEFAULT_MAX_BUCKET_SIZE + 8  # one bucket past the default cap
    docs = spark.createDataFrame(
        [(i, "the very same boilerplate banner text in every document") for i in range(n)],
        "doc_id long, text string",
    )
    with caplog.at_level(logging.WARNING, logger="truthound_spark.pipeline.dedup"):
        star = minhash_lsh_candidates(docs).collect()
    assert len(star) == n - 1  # default degraded the monster bucket to a star
    assert all(r["id_a"] == 0 for r in star)
    assert any(
        "LSH skew guard engaged" in rec.message and str(n) in rec.message
        for rec in caplog.records
    )
    # explicit None = exact all-pairs (the oracle-certified mode)
    exact = minhash_lsh_candidates(docs, max_bucket_size=None).count()
    assert exact == n * (n - 1) // 2


def test_lsh_guard_default_identical_below_cap(spark):
    """Below the cap the guarded default is result-identical to exact —
    the property that keeps every oracle slot's hash unchanged."""
    from truthound_spark.pipeline.dedup import minhash_dedup_pairs

    docs = spark.createDataFrame(
        [
            (i, f"shared prefix words for group {i % 3} " + "tail common text here")
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    default_pairs = sorted(
        map(tuple, minhash_dedup_pairs(docs, threshold=0.5).select("id_a", "id_b").collect())
    )
    exact_pairs = sorted(
        map(
            tuple,
            minhash_dedup_pairs(docs, threshold=0.5, max_bucket_size=None)
            .select("id_a", "id_b")
            .collect(),
        )
    )
    assert default_pairs == exact_pairs and len(exact_pairs) > 0
