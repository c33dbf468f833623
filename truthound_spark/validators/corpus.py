"""Corpus-quality validators: the LLM-training-data checks as FIRST-CLASS
engine validators, so ``th.check(documents, validators=[...])`` gates a
corpus exactly like any other table (fused single-agg plan included).

Beyond the reference's validator surface (BASELINE.json north star) —
these wrap the pipeline operators' column math (pipeline/text.py,
pipeline/dedup.py) in the ExpressionSpec contract:

* ``corpus_duplicate_ratio`` — share of docs whose content fingerprint is
  not unique (exact-dup rate) ≤ threshold. ONE aggregate: the fused plan
  carries ``count − count_distinct(fingerprint)``; Spark's Expand-based
  distinct aggregation keeps it a single scan.
* ``corpus_quality`` — docs whose composite quality score (same weights
  as pipeline/text.py quality_score) falls below ``min_score``; pure
  codegen'd column math in the fused agg.
* ``corpus_token_count`` — docs outside a [min_tokens, max_tokens]
  budget (BPE-ish token estimate).
* ``empty_document`` — docs that normalize to nothing (null, whitespace,
  punctuation-only).
* ``language_balance`` — dominant-language share ≤ threshold (n-gram
  heuristic language id); per-language counts ride the SAME fused agg as
  extra observation aggregates, the verdict is a driver-side judge.
* ``contamination`` — docs sharing ≥ min_overlap word n-grams with a
  probe/eval frame (broadcast probe, corpus never shuffled — the
  decontaminate plan); a cross-frame check, so it runs as its own job
  like the referential family.
"""

from __future__ import annotations

import copy
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from truthound_spark.core.base import ExpressionSpec, Validator, violation_count
from truthound_spark.core.registry import register_validator
from truthound_spark.core.results import ValidationIssue
from truthound_spark.types import Severity


def _quality_score_expr(c: F.Column) -> F.Column:
    """Composite 0-1 quality score — same weights as pipeline/text.py
    quality_score, inlined as one expression tree for the fused agg."""
    from truthound_spark.pipeline.dedup import words
    from truthound_spark.pipeline.text import stopword_ratio, whitespace_token_count

    w = words(c)
    n_words = whitespace_token_count(c)
    punct = F.when(
        F.length(c) > 0,
        F.regexp_count(c, F.lit(r"[^\w\s]")).cast("double") / F.length(c),
    ).otherwise(F.lit(0.0))
    digit = F.when(
        F.length(c) > 0,
        F.regexp_count(c, F.lit(r"[0-9]")).cast("double") / F.length(c),
    ).otherwise(F.lit(0.0))
    uniq = F.when(
        F.size(w) > 0, F.size(F.array_distinct(w)).cast("double") / F.size(w)
    ).otherwise(F.lit(0.0))
    return (
        F.least(n_words / 50.0, F.lit(1.0)) * 0.3
        + F.least(stopword_ratio(c) * 4.0, F.lit(1.0)) * 0.2
        + (1.0 - F.least(punct * 5.0, F.lit(1.0))) * 0.2
        + (1.0 - F.least(digit * 5.0, F.lit(1.0))) * 0.1
        + F.least(uniq * 1.25, F.lit(1.0)) * 0.2
    )


@register_validator("corpus_duplicate_ratio", category="corpus")
class CorpusDuplicateRatioValidator(Validator):
    """Exact-duplicate rate ≤ max_ratio, in the fused suite agg."""

    def __init__(self, column: str = "text", max_ratio: float = 0.0) -> None:
        self.column = column
        self.max_ratio = max_ratio

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        from truthound_spark.pipeline.dedup import content_fingerprint

        (c,) = self._target_columns(df, [self.column])
        fp = content_fingerprint(F.col(c))
        mr = self.max_ratio

        def judge(m: dict[str, Any], mr: float = mr) -> tuple[bool, Any, str]:
            denom = m.get("denom") or 0
            count = m.get("count") or 0
            ratio = (count / denom) if denom else 0.0
            return (
                ratio <= mr,
                round(ratio, 6),
                f"duplicate ratio {ratio:.4f} > allowed {mr}",
            )

        return [
            ExpressionSpec(
                name="corpus_duplicate_ratio",
                issue_type="corpus_duplicates",
                column=c,
                # docs in excess of their group's first occurrence
                count_expr=(F.count(fp) - F.count_distinct(fp)),
                non_null_expr=F.count(F.lit(1)),
                expected=f"dup ratio <= {mr}",
                judge=judge,
                fixed_severity=Severity.HIGH,
            )
        ]


@register_validator("corpus_quality", category="corpus")
class CorpusQualityValidator(Validator):
    """Docs below a composite quality score, fused agg; fails when their
    share exceeds ``max_low_quality_ratio``."""

    def __init__(
        self,
        column: str = "text",
        min_score: float = 0.3,
        max_low_quality_ratio: float = 0.0,
    ) -> None:
        self.column = column
        self.min_score = min_score
        self.max_low_quality_ratio = max_low_quality_ratio

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        (c,) = self._target_columns(df, [self.column])
        score = _quality_score_expr(F.col(c))
        pred = score < self.min_score
        mr = self.max_low_quality_ratio

        def judge(m: dict[str, Any], mr: float = mr) -> tuple[bool, Any, str]:
            denom = m.get("denom") or 0
            count = m.get("count") or 0
            ratio = (count / denom) if denom else 0.0
            return (
                ratio <= mr,
                round(ratio, 6),
                f"low-quality share {ratio:.4f} > allowed {mr}",
            )

        return [
            ExpressionSpec(
                name="corpus_quality",
                issue_type="low_quality_documents",
                column=c,
                count_expr=violation_count(pred),
                non_null_expr=F.count(F.lit(1)),
                filter_expr=pred,
                extra_exprs={"avg_score": F.round(F.avg(score), 6)},
                expected=f"quality >= {self.min_score}",
                judge=judge,
            )
        ]


@register_validator("corpus_token_count", category="corpus")
class CorpusTokenCountValidator(Validator):
    """Docs outside [min_tokens, max_tokens].

    Token estimate: the BPE-ish regex count by default; pass ``merges``
    (the output of ``pipeline.tokenizer.bpe_train``, collected list or
    DataFrame) to count with the TRAINED tokenizer instead — the
    tokenizer-true budget, still a pure column expression, so the check
    stays inside the suite's single fused aggregate."""

    def __init__(
        self,
        column: str = "text",
        min_tokens: int = 10,
        max_tokens: int = 1_000_000,
        merges: object | None = None,
    ) -> None:
        self.column = column
        self.min_tokens = min_tokens
        self.max_tokens = max_tokens
        self.merges = merges

    def _token_expr(self, c: str):
        from truthound_spark.pipeline.text import bpe_ish_token_count

        if self.merges is None:
            return bpe_ish_token_count(F.col(c))
        # the ONE shared merge-application/count implementation — the
        # validator can never diverge from bpe_token_counts
        from truthound_spark.pipeline.tokenizer import (
            bpe_token_count_expr,
            merge_pairs,
        )

        _n_words, n_tokens = bpe_token_count_expr(F.col(c), merge_pairs(self.merges))
        return n_tokens

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        (c,) = self._target_columns(df, [self.column])
        tok = self._token_expr(c)
        pred = (tok < self.min_tokens) | (tok > self.max_tokens)
        return [
            ExpressionSpec(
                name="corpus_token_count",
                issue_type="token_budget_violation",
                column=c,
                count_expr=violation_count(pred),
                non_null_expr=F.count(F.lit(1)),
                filter_expr=pred,
                extra_exprs={"total_tokens": F.sum(tok).cast("long")},
                expected=f"tokens in [{self.min_tokens}, {self.max_tokens}]",
            )
        ]


@register_validator("empty_document", category="corpus")
class EmptyDocumentValidator(Validator):
    """Docs that normalize to nothing (null / whitespace / punct-only)."""

    def __init__(self, column: str = "text") -> None:
        self.column = column

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        from truthound_spark.pipeline.dedup import normalized_text

        (c,) = self._target_columns(df, [self.column])
        pred = F.coalesce(normalized_text(F.col(c)), F.lit("")) == ""
        return [
            ExpressionSpec(
                name="empty_document",
                issue_type="empty_documents",
                column=c,
                count_expr=violation_count(pred),
                non_null_expr=F.count(F.lit(1)),
                filter_expr=pred,
                expected="non-empty normalized content",
            )
        ]


@register_validator("language_balance", category="corpus")
class LanguageBalanceValidator(Validator):
    """Dominant-language share ≤ max_share — per-language counts ride the
    fused agg as observation aggregates; the verdict is a driver judge."""

    def __init__(self, column: str = "text", max_share: float = 0.95) -> None:
        self.column = column
        self.max_share = max_share

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        from truthound_spark.pipeline.text import language_id

        (c,) = self._target_columns(df, [self.column])
        lang = language_id(F.col(c))
        langs = ["en", "de", "fr", "es", "unknown"]
        extras = {
            f"n_{lg}": violation_count(lang == lg).cast("long") for lg in langs
        }
        ms = self.max_share

        def judge(m: dict[str, Any], ms: float = ms) -> tuple[bool, Any, str]:
            denom = m.get("denom") or 0
            counts = {lg: int(m.get(f"n_{lg}") or 0) for lg in langs}
            top_lang = max(counts, key=counts.get)  # type: ignore[arg-type]
            share = (counts[top_lang] / denom) if denom else 0.0
            return (
                share <= ms,
                {"language": top_lang, "share": round(share, 6)},
                f"dominant language {top_lang!r} at {share:.4f} > allowed {ms}",
            )

        return [
            ExpressionSpec(
                name="language_balance",
                issue_type="language_imbalance",
                column=c,
                count_expr=F.lit(0),
                non_null_expr=F.count(F.lit(1)),
                extra_exprs=extras,
                expected=f"dominant share <= {ms}",
                judge=judge,
            )
        ]


@register_validator("contamination", category="corpus")
class ContaminationValidator(Validator):
    """Corpus docs overlapping a probe/eval frame (≥ min_overlap shared
    word n-grams). Cross-frame — runs as its own job (referential
    pattern); the probe side is broadcast, the corpus never shuffles."""

    def __init__(
        self,
        probe_df: DataFrame,
        column: str = "text",
        id_column: str = "doc_id",
        n: int = 3,
        min_overlap: int = 1,
        max_contaminated: int = 0,
    ) -> None:
        self.probe_df = probe_df
        self.column = column
        self.id_column = id_column
        self.n = n
        self.min_overlap = min_overlap
        self.max_contaminated = max_contaminated

    def validate(
        self, df: DataFrame, row_count: int | None = None
    ) -> list[ValidationIssue]:
        from truthound_spark.pipeline.dedup import decontaminate

        flagged = decontaminate(
            df,
            self.probe_df,
            text_col=self.column,
            id_col=self.id_column,
            n=self.n,
            min_overlap=self.min_overlap,
        )
        count = flagged.count()
        if count <= self.max_contaminated:
            return []
        total = row_count if row_count is not None else df.count()
        return [
            ValidationIssue(
                column=self.column,
                issue_type="contaminated_documents",
                count=count,
                severity=Severity.CRITICAL,
                validator_name="contamination",
                expected=f"<= {self.max_contaminated} docs overlapping probe set",
                actual=count,
                details=(
                    f"{count} of {total} docs share >= {self.min_overlap} "
                    f"{self.n}-gram(s) with the probe frame"
                ),
            )
        ]


@register_validator("embedding_health", category="corpus")
class EmbeddingHealthValidator(Validator):
    """Vector columns as first-class citizens of ``check()``: nulls, NaN
    components, zero vectors, and dimension drift in an embedding
    column, with thresholds — the fused-agg validator form of
    ``pipeline.similarity.embedding_stats`` (same expressions, same
    modal-dimension reference when ``expected_dim`` is omitted).

    The specs are one aggregate; without ``expected_dim``, ``validate()``
    first runs the modal-dimension probe (one extra job) and compiles
    against it, so ``specs()`` stays free of Spark jobs."""

    def __init__(
        self,
        column: str = "embedding",
        expected_dim: int | None = None,
        max_null: int = 0,
        max_nan: int = 0,
        max_zero: int = 0,
        max_dim_mismatch: int = 0,
    ) -> None:
        self.column = column
        self.expected_dim = expected_dim
        self.max_null = max_null
        self.max_nan = max_nan
        self.max_zero = max_zero
        self.max_dim_mismatch = max_dim_mismatch

    def validate(
        self, df: DataFrame, row_count: int | None = None
    ) -> list[ValidationIssue]:
        from truthound_spark.core.executor import BatchExpressionExecutor

        resolved = self
        if self.expected_dim is None:
            v = F.col(self._target_columns(df, [self.column])[0]).cast("array<double>")
            mode_row = (
                df.filter(v.isNotNull())
                .groupBy(F.size(v).alias("__d"))
                .agg(F.count(F.lit(1)).alias("__c"))
                .orderBy(F.desc("__c"), F.asc("__d"))
                .first()
            )
            resolved = copy.copy(self)
            resolved.expected_dim = mode_row["__d"] if mode_row is not None else None
        return BatchExpressionExecutor([resolved]).execute(df)

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        """The four checks against ``expected_dim``; with it unset (and
        no modal dimension resolved by ``validate()``) the dimension
        check never fires."""
        (c,) = self._target_columns(df, [self.column])
        v = F.col(c).cast("array<double>")
        dim = F.size(v)
        has_nan = F.exists(v, lambda x: F.isnan(x))
        is_zero = (dim > 0) & F.forall(v, lambda x: x == F.lit(0.0))
        expected = self.expected_dim
        mismatch = (
            (v.isNotNull() & (dim != F.lit(expected)))
            if expected is not None
            else F.lit(False)
        )
        checks = [
            ("embedding_null", "null_vectors", v.isNull(), self.max_null),
            ("embedding_nan", "nan_components", F.coalesce(has_nan, F.lit(False)), self.max_nan),
            ("embedding_zero", "zero_vectors", F.coalesce(is_zero, F.lit(False)), self.max_zero),
            ("embedding_dim", "dim_mismatch", mismatch, self.max_dim_mismatch),
        ]
        out = []
        for name, issue, pred, ceiling in checks:

            def judge(m: dict[str, Any], ceiling: int = ceiling, issue: str = issue):
                count = m.get("count") or 0
                return (
                    count <= ceiling,
                    int(count),
                    f"{issue} count {count} > allowed {ceiling}",
                )

            out.append(
                ExpressionSpec(
                    name=name,
                    issue_type=issue,
                    column=c,
                    count_expr=violation_count(pred),
                    non_null_expr=F.count(F.lit(1)),
                    filter_expr=pred,
                    expected=f"{issue} <= {ceiling}",
                    judge=judge,
                )
            )
        return out
