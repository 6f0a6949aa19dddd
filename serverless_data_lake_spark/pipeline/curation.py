"""Declarative corpus-curation pipeline with an audit manifest.

A 100 TB training-data release is not one operator — it is a CHAIN
(dedup → span removal → decontamination → quality gates → sampling →
splits), and the release review needs to know exactly how many
documents each stage dropped. This module composes the operator
families into one declarative builder:

    pipe = (
        CurationPipeline("doc_id", "text")
        .exact_dedup()
        .near_dedup(method="minhash")
        .remove_duplicate_spans(k=13)
        .decontaminate(eval_df, n=13)
        .quality_filter(min_score=0.5)
        .length_filter(min_tokens=10)
        .sample(rate=0.9, salt="release-1")
        .assign_splits({"train": 0.9, "val": 0.05, "test": 0.05})
    )
    out, report = pipe.execute(spark_df)

Audit counting rides ``observe()``: each stage boundary carries an
Observation node filled by the SAME action that materializes the
result — zero dedicated count jobs, the pattern the silver/gold
paths already use (pipeline/silver.py).

Two stage classes would make a lazily-composed chain super-linear,
so ``build()`` persists and fully materializes their INPUT (one
``noop``-format write — a full pass, so the upstream observations
fill with COMPLETE counts; an operator's own first action may be a
``limit()`` probe, which would fill them partially). Persist+noop,
NOT ``localCheckpoint``: the checkpoint's DataFrame→RDD conversion
drops out of the codegen'd columnar path and measured 6× slower
over the same 12-stage sf0.1 chain (233 s vs 39 s):

- stages whose operator runs driver actions during construction
  (``near_dedup``'s connected-components closure runs several;
  ``rebalance_sources`` counts + collects its per-group sizes) —
  each action would otherwise re-execute the whole upstream chain;
- stages whose operator scans its input TWICE (span removal,
  decontamination and the perplexity gate all aggregate then join
  back) — lazily stacked, k such stages
  duplicate the upstream plan 2^k times inside the final action.

With the boundaries cached, each segment computes exactly once and
the doublers read the cache; ``execute()`` unpersists everything
after harvesting the manifest (the streaming twin does the same per
micro-batch). Pure narrow gates (quality/length/repetition/sample)
stay lazy and fuse into one codegen'd filter.

Scale shape: every stage is one of the already-certified operators —
the chain introduces NO new shuffles beyond what each operator
declares, and the lazily-composed plan lets Catalyst pipeline
adjacent narrow stages (quality/length/sample collapse into one
WholeStageCodegen filter over the corpus scan).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class StageReport:
    """Rows in/out of one stage (dropped = in − out)."""

    stage: str
    rows_in: int
    rows_out: int

    @property
    def rows_dropped(self) -> int:
        return self.rows_in - self.rows_out


class CurationPipeline:
    """Builder over the curation operator families. Each ``.stage()``
    call appends a transformation; :meth:`execute` runs the composed
    plan once and returns the result plus per-stage counts."""

    def __init__(self, id_col: str = "doc_id", text_col: str = "text"):
        self.id_col = id_col
        self.text_col = text_col
        self._stages: list[tuple[str, Callable[[DataFrame], DataFrame]]] = []
        # Stages whose operator runs driver actions over its input
        # during construction, or scans it more than once; build()
        # materializes their input so neither re-executes upstream.
        self._eager_input: set[str] = set()
        self._persisted: list[DataFrame] = []

    def _add(
        self, name: str, fn, eager_input: bool = False
    ) -> "CurationPipeline":
        self._stages.append((name, fn))
        if eager_input:
            self._eager_input.add(name)
        return self

    # -- dedup family --------------------------------------------------
    def exact_dedup(self) -> "CurationPipeline":
        from serverless_data_lake_spark.operators.dedup import dedup_exact

        return self._add(
            "exact_dedup",
            lambda df: dedup_exact(df, [self.text_col], id_col=self.id_col),
        )

    def near_dedup(
        self,
        method: str = "minhash",
        threshold: float = 0.8,
        **kwargs,
    ) -> "CurationPipeline":
        """Near-duplicate removal: candidate pairs via ``minhash``
        (banded LSH) or ``jaccard`` (PPJoin prefix), transitively
        closed, min-id representative kept."""
        from serverless_data_lake_spark.operators.components import (
            dedup_corpus,
        )
        from serverless_data_lake_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_prefix,
        )

        def run(df: DataFrame) -> DataFrame:
            if method == "minhash":
                pairs = minhash_lsh_pairs(
                    df, self.id_col, self.text_col,
                    verify_threshold=threshold, **kwargs,
                )
            elif method == "jaccard":
                pairs = ngram_jaccard_prefix(
                    df, self.id_col, self.text_col,
                    threshold=threshold, **kwargs,
                )
            else:
                raise ValueError(f"unknown near-dedup method {method!r}")
            return dedup_corpus(df, pairs, self.id_col)

        return self._add(f"near_dedup[{method}]", run, eager_input=True)

    def remove_duplicate_spans(
        self, k: int = 13, drop_empty: bool = True
    ) -> "CurationPipeline":
        """Exact-substring dedup: rewrite documents with duplicated
        ≥k-token spans cut (first occurrence kept); optionally drop
        documents left empty."""
        from serverless_data_lake_spark.operators.dedup import (
            remove_duplicate_spans,
        )

        def run(df: DataFrame) -> DataFrame:
            extra = [
                c for c in df.columns
                if c not in (self.id_col, self.text_col)
            ]
            rewritten = remove_duplicate_spans(
                df, self.id_col, self.text_col, k=k
            )
            if drop_empty:
                rewritten = rewritten.filter(F.col("n_kept") > 0)
            out = rewritten.select(
                self.id_col,
                F.col("text_dedup").alias(self.text_col),
            )
            if extra:
                out = out.join(
                    df.select(self.id_col, *extra), self.id_col, "left"
                )
            return out

        return self._add(f"span_dedup[k={k}]", run, eager_input=True)

    def decontaminate(
        self, test: DataFrame, n: int = 13, min_shared: int = 1
    ) -> "CurationPipeline":
        from serverless_data_lake_spark.operators.dedup import decontaminate

        return self._add(
            "decontaminate",
            lambda df: decontaminate(
                df, test, self.id_col, self.text_col,
                n=n, min_shared=min_shared,
            ),
            eager_input=True,
        )

    # -- quality / size gates ------------------------------------------
    def quality_filter(self, min_score: float) -> "CurationPipeline":
        from serverless_data_lake_spark.operators.text import quality_score

        return self._add(
            f"quality>={min_score}",
            lambda df: df.filter(
                quality_score(F.col(self.text_col)) >= min_score
            ),
        )

    def perplexity_filter(
        self, lm, max_perplexity: float, alpha: float = 0.1
    ) -> "CurationPipeline":
        """CCNet-style LM filter: drop documents whose bigram-LM
        perplexity under a reference model exceeds the cut (docs with
        no bigram evidence are kept — length gates own that case).

        ``lm`` accepts either an :class:`operators.lm.NGramLM` (the
        join-based scorer — right when the LM itself is corpus-scale)
        or an :class:`operators.lm.LocalNGramLM` (r10 — the map-only
        broadcast scorer: the filter stage then adds ZERO shuffles to
        the pipeline plan; semantics are pinned identical)."""
        from serverless_data_lake_spark.operators.lm import (
            LocalNGramLM,
            perplexity_score,
            perplexity_score_inrow,
        )

        def run(df: DataFrame) -> DataFrame:
            if isinstance(lm, LocalNGramLM):
                scored = perplexity_score_inrow(
                    df, self.id_col, lm,
                    text_col=self.text_col, alpha=alpha,
                )
            else:
                scored = perplexity_score(
                    df, self.id_col, lm,
                    text_col=self.text_col, alpha=alpha,
                )
            scored = scored.select(
                F.col(self.id_col).alias("__pid"), "perplexity"
            )
            keep = scored.filter(
                F.col("perplexity").isNull()
                | (F.col("perplexity") <= max_perplexity)
            ).select("__pid")
            return df.join(
                keep, df[self.id_col] == keep["__pid"], "left_semi"
            )

        return self._add(
            f"perplexity<={max_perplexity:g}", run, eager_input=True
        )

    def length_filter(
        self,
        min_tokens: int = 0,
        max_tokens: int | None = None,
        token_mode: str = "whitespace",
    ) -> "CurationPipeline":
        """``token_mode="bpe"`` measures the bounds in real subword
        tokens (the frozen vocab, operators/bpe.py) — use it when the
        bounds encode a trainer's context budget rather than a
        words-ish length heuristic."""
        from serverless_data_lake_spark.operators.text import token_count

        def run(df: DataFrame) -> DataFrame:
            n = token_count(F.col(self.text_col), token_mode)
            out = df.filter(n >= min_tokens)
            if max_tokens is not None:
                out = out.filter(n <= max_tokens)
            return out

        return self._add("length_filter", run)

    def repetition_filter(
        self,
        max_dup_gram_frac: float = 1.0,
        max_top_gram_frac: float = 1.0,
        n: int = 2,
    ) -> "CurationPipeline":
        """Gopher-style repetition gates: drop documents whose
        duplicated-n-gram fraction or top-n-gram dominance exceeds
        the cuts. The per-doc stats (in-row over a STAGED gram
        projection) are PERSISTED, filtered from the cache, and
        semi-joined back — never filtered directly: filter pushdown
        inlines aliases into the predicate through every projection,
        and the signals reference the gram array ~6 times with no
        HOF subexpression elimination (the direct-filter variant
        measured 32× on the repetition_stats entry). The cache pins the
        signal computation inside a projection evaluated once."""
        from serverless_data_lake_spark.operators.text import (
            repetition_stats,
        )

        def run(df: DataFrame) -> DataFrame:
            stats = repetition_stats(
                df, self.id_col, self.text_col, n=n
            ).persist()
            self._persisted.append(stats)
            keep = stats.filter(
                (F.col("dup_gram_frac") <= max_dup_gram_frac)
                & (F.col("top_gram_frac") <= max_top_gram_frac)
            ).select(F.col(self.id_col).alias("__rid"))
            return df.join(
                keep, df[self.id_col] == keep["__rid"], "left_semi"
            )

        return self._add("repetition_filter", run)

    # -- origin mixing ---------------------------------------------------
    def cap_per_source(
        self,
        group_col: str,
        max_rows: int,
        priority_col: str | None = None,
    ) -> "CurationPipeline":
        """Keep at most ``max_rows`` documents per origin group
        (domain/source) — skew-resilient two-phase top-N."""
        from serverless_data_lake_spark.operators.mixing import (
            cap_per_group,
        )

        return self._add(
            f"cap_per[{group_col}<={max_rows}]",
            lambda df: cap_per_group(
                df, group_col, self.id_col, max_rows,
                priority_col=priority_col,
            ),
        )

    def rebalance_sources(
        self, group_col: str, max_frac: float, salt: str = ""
    ) -> "CurationPipeline":
        """Downsample any origin group above ``max_frac`` of the
        corpus (corpus-global by definition)."""
        from serverless_data_lake_spark.operators.mixing import (
            rebalance_sources,
        )

        return self._add(
            f"rebalance[{group_col}<={max_frac:g}]",
            lambda df: rebalance_sources(
                df, group_col, self.id_col, max_frac, salt=salt
            ),
            eager_input=True,
        )

    def pack_sequences(
        self, capacity: int, buckets: int = 256
    ) -> "CurationPipeline":
        """Append packed-stream position columns (start_offset /
        chunk_id / chunk_offset / chunk_last / n_chunks) mapping each
        surviving document onto fixed-``capacity`` training
        sequences; zero-token documents drop. Corpus-global (offsets
        depend on every earlier document) and the operator runs a
        sketch + micro-collect over its input, so the stage is an
        eager boundary."""
        from serverless_data_lake_spark.operators.packing import (
            pack_sequences,
        )

        def run(df: DataFrame) -> DataFrame:
            meta = pack_sequences(
                df, self.id_col, capacity,
                text_col=self.text_col, buckets=buckets,
            ).drop("n_tokens")
            return df.join(meta, self.id_col)

        return self._add(f"pack[{capacity}]", run, eager_input=True)

    # -- selection ------------------------------------------------------
    def sample(self, rate: float, salt: str = "") -> "CurationPipeline":
        from serverless_data_lake_spark.operators.sampling import (
            deterministic_sample,
        )

        return self._add(
            f"sample[{rate}]",
            lambda df: deterministic_sample(df, self.id_col, rate, salt),
        )

    def assign_splits(
        self, splits: dict[str, float], salt: str = ""
    ) -> "CurationPipeline":
        from serverless_data_lake_spark.operators.sampling import (
            assign_splits,
        )

        return self._add(
            "assign_splits",
            lambda df: assign_splits(df, self.id_col, splits, salt=salt),
        )

    # -- execution ------------------------------------------------------
    def build(
        self, df: DataFrame
    ) -> tuple[DataFrame, list[tuple[str, Observation]]]:
        """Compose the plan with an Observation per stage boundary.
        Returned observations fill when the caller runs ANY action
        over the result.

        Mostly lazy — but the input of each ``eager_input`` stage is
        persisted and materialized HERE (one full-pass noop write),
        so the stage's internal driver actions (closure iterations,
        per-group collects) and dual scans hit the cache instead of
        re-executing the upstream chain. Observations upstream of
        that boundary fill during the materializing pass
        (completely — an operator's own first action may be a
        ``limit()`` probe); the rest fill at the caller's action.
        Call :meth:`unpersist_all` (``execute`` does) when done."""
        obs_in = Observation("curation_input")
        cur = df.observe(obs_in, F.count(F.lit(1)).alias("n"))
        taps: list[tuple[str, Observation]] = [("input", obs_in)]
        for i, (name, fn) in enumerate(self._stages):
            if name in self._eager_input:
                cur = cur.persist()
                self._persisted.append(cur)
                cur.write.format("noop").mode("overwrite").save()
            cur = fn(cur)
            ob = Observation(f"curation_{i}_{name}")
            cur = cur.observe(ob, F.count(F.lit(1)).alias("n"))
            taps.append((name, ob))
        return cur, taps

    def unpersist_all(self) -> None:
        """Release the eager-stage input caches created by
        :meth:`build` (idempotent)."""
        while self._persisted:
            self._persisted.pop().unpersist()

    def execute(
        self,
        df: DataFrame,
        sink: Callable[[DataFrame], None] | None = None,
    ) -> tuple[DataFrame, list[StageReport]]:
        """Run the pipeline once. ``sink`` materializes the result
        (defaults to a ``noop``-format write — full computation, no
        driver transfer); the audit manifest is harvested from the
        same action."""
        try:
            out, taps = self.build(df)
            if sink is None:
                out.write.format("noop").mode("overwrite").save()
            else:
                sink(out)
            counts = [int(ob.get["n"]) for _name, ob in taps]
        finally:
            self.unpersist_all()
        reports = [
            StageReport(name, counts[i], counts[i + 1])
            for i, (name, _ob) in enumerate(taps[1:])
        ]
        return out, reports
