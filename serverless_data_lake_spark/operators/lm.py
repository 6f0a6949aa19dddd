"""N-gram language-model perplexity scoring — the CCNet-style
quality signal (Wenzek et al. 2020 filter web text by the perplexity
of a reference-corpus LM; documents far from the reference
distribution are boilerplate, gibberish, or another register).

Spark-first shape: the LM IS two DataFrames of hashed-gram counts
(unigrams, bigrams) built with plain groupBys; scoring explodes each
document's bigram positions ONCE and resolves probabilities through
two keyed equi-joins (broadcast when the LM is small — e.g. a
Wikipedia reference model — else AQE plans shuffle joins). Jelinek-Mercer
interpolated, add-alpha smoothed bigram:

    lam_w1     = lam * C(w1) / (C(w1) + 1)            # Witten-Bell
    p(w2 | w1) = lam_w1 * (C(w1,w2) + a) / (C(w1) + a*V)
               + (1 - lam_w1) * (C(w2) + a) / (T + a*V)

where V is the training vocabulary size (+1 for the unseen class)
and T the training token total. The CONTEXT-DEPENDENT weight is
load-bearing: a fixed-lambda add-alpha bigram gives an unseen
context the 1/V floor — higher than a seen context with a wrong
continuation — so all-gibberish documents would outscore shuffled
in-vocabulary text. Witten-Bell-style weighting sends unseen
contexts entirely to the unigram term, where an unseen token earns
the a/(T+aV) floor it deserves (the unit tests pin this ordering). Everything is deterministic column arithmetic on xxhash64
token hashes — no Python in the row path, reproducible across runs
and partitionings.

This is deliberately NOT Kneser-Ney: a 100 TB filter pass needs a
monotone, explainable score more than the last 10% of LM quality,
and add-alpha keeps the scorer a pure two-join plan. Swap the count
tables for externally-trained ones (same schema) when a stronger LM
exists.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _token_hashes(text_col: str, token_mode: str = "whitespace"):
    """Token-id array for LM counting. ``whitespace``: xxhash64 of
    lowercased words (JVM-side). ``bpe``: the frozen byte-level BPE
    ids (operators/bpe.py, Arrow UDF) — ids are stable small longs,
    so the same 8-byte-key count tables and joins apply unchanged;
    train and score MUST use the same mode (the id spaces are
    disjoint by construction, so a mismatch scores everything as
    unseen rather than silently blending)."""
    if token_mode == "bpe":
        from serverless_data_lake_spark.operators.bpe import (
            bpe_encode_udf,
        )

        return bpe_encode_udf()(F.col(text_col))
    if token_mode != "whitespace":
        raise ValueError(f"unknown token mode: {token_mode}")
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != ""
    )
    return F.transform(toks, lambda t: F.xxhash64(t))


@dataclass
class NGramLM:
    """A trained bigram LM: hashed-token count tables + scalars.

    ``unigrams``: (w1, c1) — token counts (used both as bigram
    contexts and as the interpolation distribution). ``bigrams``:
    (w1, w2, c12). ``vocab_size`` includes one unseen-token slot;
    ``total_tokens`` is the training token count.
    ``persist()`` both tables when scoring multiple corpora."""

    unigrams: DataFrame
    bigrams: DataFrame
    vocab_size: int
    total_tokens: int
    #: The persisted reference-corpus token-array projection when the
    #: model was trained with ``persist=True`` (r9) — retained so the
    #: largest cache the training leaves behind stays unpersistable;
    #: before this handle existed it could only be freed with a
    #: session-wide clearCache().
    token_arrays: DataFrame | None = None

    def persist(self) -> "NGramLM":
        self.unigrams.persist()
        self.bigrams.persist()
        return self

    def unpersist(self) -> "NGramLM":
        """Release every cache this model holds — the count tables
        AND the token-array projection ``train_bigram_lm`` persists
        alongside them."""
        self.unigrams.unpersist()
        self.bigrams.unpersist()
        if self.token_arrays is not None:
            self.token_arrays.unpersist()
        return self


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    token_mode: str = "whitespace",
    persist: bool = False,
) -> NGramLM:
    """Count unigrams and bigrams over a reference corpus — two
    groupBys on 8-byte hashes, map-side combined. The vocabulary
    size (distinct tokens + 1 unseen slot) is the one driver-side
    scalar. ``persist=True`` caches both count tables BEFORE the
    stats collect, so the reference corpus is tokenized once total
    rather than once per scoring pass — the right call whenever the
    model scores anything (the stats collect doubles as the unigram
    materializer; the bigram table caches on first use). The token
    ARRAYS persist too: both count tables derive from the same
    tokenization, and without the shared cache the bigram table's
    first materialization (usually a broadcast build inside the
    scoring job) re-tokenizes the whole reference corpus (r9:
    measured as the train-side half of the lm_perplexity entry's
    floor gap)."""
    th = df.select(_token_hashes(text_col, token_mode).alias("__th"))
    if persist:
        th = th.persist()
    toks = th.select(F.explode_outer("__th").alias("w1")).filter(
        F.col("w1").isNotNull()
    )
    unigrams = toks.groupBy("w1").agg(F.count("*").alias("c1"))
    pairs = th.select(
        F.explode_outer(
            F.when(
                F.size("__th") < 2, F.array().cast("array<struct<w1:bigint,w2:bigint>>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("__th") - 2),
                    lambda i: F.struct(
                        F.get(F.col("__th"), i).alias("w1"),
                        F.get(F.col("__th"), i + 1).alias("w2"),
                    ),
                )
            )
        ).alias("bg")
    ).filter(F.col("bg").isNotNull())
    bigrams = pairs.select("bg.w1", "bg.w2").groupBy("w1", "w2").agg(
        F.count("*").alias("c12")
    )
    if persist:
        unigrams = unigrams.persist()
        bigrams = bigrams.persist()
    stats = unigrams.agg(
        F.count("*").alias("v"), F.sum("c1").alias("t")
    ).collect()[0]
    return NGramLM(
        unigrams=unigrams,
        bigrams=bigrams,
        vocab_size=int(stats["v"]) + 1,  # +1 = unseen class
        total_tokens=int(stats["t"]),
        token_arrays=th if persist else None,
    )


@dataclass
class LocalNGramLM:
    """A bigram LM collected to driver-resident numpy lookup tables —
    the broadcastable form of :class:`NGramLM` for in-row scoring.

    The CCNet shape (Wenzek et al. 2020): the reference LM is trained
    on a BOUNDED corpus (e.g. Wikipedia), so its count tables are
    driver-sized even when the corpus being scored is 100 TB — ship
    the model to every executor once and score map-only, instead of
    shuffling every document's bigrams through three joins. Use the
    join-based :func:`perplexity_score` when the LM itself is
    corpus-scale (count tables too big to broadcast).

    Layout: ``vocab_hashes`` is the SORTED unigram token-hash array
    and ``uni_counts`` aligns with it; bigrams are keyed by
    ``dense(w1) * (V0 + 1) + dense(w2)`` where ``dense`` is the
    position in ``vocab_hashes`` — exact (no composite-hash
    collisions) because every trained bigram's tokens are in the
    trained vocabulary by construction."""

    vocab_hashes: np.ndarray  # int64, sorted ascending, length V0
    uni_counts: np.ndarray  # int64, aligned with vocab_hashes
    bigram_keys: np.ndarray  # int64 dense-composite, sorted ascending
    bigram_counts: np.ndarray  # int64, aligned with bigram_keys
    vocab_size: int = field(default=0)  # V0 + 1 (the unseen slot)
    total_tokens: int = field(default=0)


def _local_from_frames(
    uw, uc, bw1, bw2, bc, vocab_size: int, total_tokens: int
) -> LocalNGramLM:
    order = np.argsort(uw, kind="stable")
    uh = uw[order]
    ucs = uc[order]
    v0 = int(uh.size)
    d1 = np.searchsorted(uh, bw1)
    d2 = np.searchsorted(uh, bw2)
    keys = d1 * np.int64(v0 + 1) + d2
    border = np.argsort(keys, kind="stable")
    return LocalNGramLM(
        vocab_hashes=uh,
        uni_counts=ucs,
        bigram_keys=keys[border],
        bigram_counts=bc[border],
        vocab_size=vocab_size,
        total_tokens=total_tokens,
    )


def train_bigram_lm_local(
    df: DataFrame,
    text_col: str = "text",
    token_mode: str = "whitespace",
    merge: str = "partials",
) -> LocalNGramLM:
    """Train a bigram LM over a bounded reference corpus and collect
    it straight to :class:`LocalNGramLM` in ONE Spark job.

    ``merge="partials"`` (default): each partition counts its own
    unigrams/bigrams with a vectorized numpy kernel inside one
    ``mapInPandas`` pass — NO shuffle at all — and the driver merges
    the per-partition partial count tables (a pandas groupby over
    ``sum(partitions × local vocab)`` rows). This is map-side
    combining taken to its logical end for a *bounded* reference
    corpus: tokenization and counting stay distributed, and the
    driver sees only count tables, never the corpus. One job, zero
    exchanges — on small reference slices the two-groupBy plan's
    stage-scheduling floor alone costs more than this whole job
    (measured 0.75 s vs 0.25 s at sf0.1).

    ``merge="shuffle"``: the two count groupBys run distributed and
    ride back in a single unioned Arrow collect — the right mode
    when (partitions × per-partition vocab) outgrows the driver while
    the GLOBAL count tables still fit (heavy-tailed token
    distributions at very large reference corpora).

    vocab_size / total_tokens derive locally from the collected
    unigram counts (identical to the distributed stats aggregate in
    :func:`train_bigram_lm`)."""
    if merge == "partials":
        return _train_local_partials(df, text_col, token_mode)
    if merge != "shuffle":
        raise ValueError(f"unknown merge mode: {merge}")
    th = df.select(
        _token_hashes(text_col, token_mode).alias("__th")
    ).persist()
    try:
        toks = th.select(F.explode_outer("__th").alias("w1")).filter(
            F.col("w1").isNotNull()
        )
        unigrams = toks.groupBy("w1").agg(F.count("*").alias("c1"))
        pairs = th.select(
            F.explode_outer(
                F.when(
                    F.size("__th") < 2,
                    F.array().cast("array<struct<w1:bigint,w2:bigint>>"),
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(0), F.size("__th") - 2),
                        lambda i: F.struct(
                            F.get(F.col("__th"), i).alias("w1"),
                            F.get(F.col("__th"), i + 1).alias("w2"),
                        ),
                    )
                )
            ).alias("bg")
        ).filter(F.col("bg").isNotNull())
        bigrams = pairs.select("bg.w1", "bg.w2").groupBy("w1", "w2").agg(
            F.count("*").alias("c12")
        )
        # Tag column, NOT a nullable w2: a null in the unioned bigint
        # column would make pandas coerce it to float64, and 64-bit
        # xxhash values above 2^53 don't round-trip through doubles.
        both = unigrams.select(
            F.lit(True).alias("__uni"),
            "w1",
            F.lit(0).cast("bigint").alias("w2"),
            F.col("c1").alias("c"),
        ).unionAll(
            bigrams.select(
                F.lit(False).alias("__uni"), "w1", "w2",
                F.col("c12").alias("c"),
            )
        )
        pdf = both.toPandas()
    finally:
        th.unpersist()
    uni = pdf[pdf["__uni"]]
    bi = pdf[~pdf["__uni"]]
    uw = uni["w1"].to_numpy(np.int64)
    uc = uni["c"].to_numpy(np.int64)
    return _local_from_frames(
        uw,
        uc,
        bi["w1"].to_numpy(np.int64),
        bi["w2"].to_numpy(np.int64),
        bi["c"].to_numpy(np.int64),
        vocab_size=int(uw.size) + 1,  # +1 = unseen class
        total_tokens=int(uc.sum()) if uc.size else 0,
    )


def _count_grams_np(arrs: list) -> tuple:
    """Vectorized unigram + bigram counting over a list of int64
    token arrays: (uw, ucnt, bw1, bw2, bcnt). Shared by the
    per-partition partial counter and unit tests."""
    n = len(arrs)
    if n == 0:
        e = np.empty(0, np.int64)
        return e, e, e, e, e
    lens = np.fromiter((a.size for a in arrs), np.int64, n)
    flat = np.concatenate(arrs)
    uw, ucnt = np.unique(flat, return_counts=True)
    ends = np.cumsum(lens)
    mask = np.ones(flat.size, bool)
    mask[ends[lens > 0] - 1] = False
    p = np.flatnonzero(mask)
    w1, w2 = flat[p], flat[p + 1]
    if w1.size:
        o = np.lexsort((w2, w1))
        w1s, w2s = w1[o], w2[o]
        new = np.empty(w1s.size, bool)
        new[0] = True
        new[1:] = (w1s[1:] != w1s[:-1]) | (w2s[1:] != w2s[:-1])
        idx = np.flatnonzero(new)
        bcnt = np.diff(np.append(idx, w1s.size)).astype(np.int64)
        bw1, bw2 = w1s[idx], w2s[idx]
    else:
        bw1 = bw2 = bcnt = np.empty(0, np.int64)
    return uw, ucnt.astype(np.int64), bw1, bw2, bcnt


def _train_local_partials(
    df: DataFrame, text_col: str, token_mode: str
) -> LocalNGramLM:
    import pandas as pd

    def count_partition(batches):
        arrs: list = []
        for pdf in batches:
            # NULL text arrives as a None element (not an empty
            # array) — skip it, mirroring perplexity_score_inrow
            # and the merge="shuffle" trainer's isNotNull filter.
            arrs.extend(
                np.asarray(t, dtype=np.int64)
                for t in pdf["__th"]
                if t is not None
            )
        uw, ucnt, bw1, bw2, bcnt = _count_grams_np(arrs)
        if uw.size == 0 and bw1.size == 0:
            return
        yield pd.DataFrame(
            {
                "uni": np.concatenate(
                    [np.ones(uw.size, bool), np.zeros(bw1.size, bool)]
                ),
                "w1": np.concatenate([uw, bw1]),
                "w2": np.concatenate(
                    [np.zeros(uw.size, np.int64), bw2]
                ),
                "c": np.concatenate([ucnt, bcnt]),
            }
        )

    th = df.select(_token_hashes(text_col, token_mode).alias("__th"))
    parts = th.mapInPandas(
        count_partition, schema="uni boolean, w1 long, w2 long, c long"
    ).toPandas()
    if len(parts):
        merged = (
            parts.groupby(["uni", "w1", "w2"], as_index=False)["c"].sum()
        )
    else:
        merged = parts
    uni = merged[merged["uni"]] if len(merged) else merged
    bi = merged[~merged["uni"]] if len(merged) else merged
    uw = uni["w1"].to_numpy(np.int64) if len(merged) else np.empty(0, np.int64)
    uc = uni["c"].to_numpy(np.int64) if len(merged) else np.empty(0, np.int64)
    return _local_from_frames(
        uw,
        uc,
        bi["w1"].to_numpy(np.int64) if len(merged) else np.empty(0, np.int64),
        bi["w2"].to_numpy(np.int64) if len(merged) else np.empty(0, np.int64),
        bi["c"].to_numpy(np.int64) if len(merged) else np.empty(0, np.int64),
        vocab_size=int(uw.size) + 1,
        total_tokens=int(uc.sum()) if uc.size else 0,
    )


def perplexity_score_inrow(
    df: DataFrame,
    id_col: str,
    lm: LocalNGramLM,
    text_col: str = "text",
    alpha: float = 0.1,
    lam: float = 0.7,
    token_mode: str = "whitespace",
) -> DataFrame:
    """In-row twin of :func:`perplexity_score`: identical semantics
    (same smoothing arithmetic, same NULL rules — pinned equal by
    tests/test_lm.py), ZERO shuffles.

    Plan: scan → JVM-side tokenize+xxhash64 → one Arrow pandas_udf
    over the token-hash array resolving both count lookups against
    the broadcast :class:`LocalNGramLM` (vectorized ``searchsorted``
    — no Python dict, no per-row work) → project. The r9 join-based
    plan moved every bigram through an explode, three joins and a
    groupBy (4 exchanges of corpus-proportional rows); this is a
    map-only pass whose only data movement is the scan itself — the
    shape that survives a 100 TB corpus unchanged. The float
    arithmetic mirrors :func:`perplexity_score` operation-for-
    operation (same IEEE doubles; ``log`` may differ in the last ulp
    across libm/JVM, absorbed by the caller's 6-dp rounding contract
    exactly as the DuckDB oracle's ``ln`` already is).

    ``alpha=0`` parity: the join path scores an unseen bigram as
    ``F.log(0) = NULL`` which ``avg`` skips while ``n_bigrams`` still
    counts the row; the kernel masks non-positive probabilities out
    of the average the same way."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    sc = df.sparkSession.sparkContext
    b_lm = sc.broadcast(
        (
            lm.vocab_hashes,
            lm.uni_counts,
            lm.bigram_keys,
            lm.bigram_counts,
            int(lm.vocab_size),
            int(lm.total_tokens),
        )
    )
    alpha_f = float(alpha)
    lam_f = float(lam)

    def score_batch(tokens):
        import pandas as pd

        uh, uc, bk, bc, vsize, ttot = b_lm.value
        v0 = int(uh.size)
        av = alpha_f * vsize
        denom_uni = float(ttot) + av
        n_docs = len(tokens)
        # NULL text reaches the kernel as a None element (split(NULL)
        # is NULL): treat it as an empty token array, mirroring the
        # join path's explode_outer padding (n_bigrams 0, NULL score).
        arrs = [
            np.asarray(t, dtype=np.int64)
            if t is not None
            else np.empty(0, np.int64)
            for t in tokens
        ]
        lens = np.fromiter((a.size for a in arrs), np.int64, n_docs)
        nb = np.maximum(lens - 1, 0)
        out_n = nb.astype(np.int64)
        avg = np.full(n_docs, np.nan)
        if nb.sum() > 0 and n_docs:
            flat = (
                np.concatenate(arrs) if arrs else np.empty(0, np.int64)
            )
            ends = np.cumsum(lens)
            mask = np.ones(flat.size, bool)
            # last token of each non-empty doc has no w2 (an empty
            # doc's end-1 would index into its predecessor)
            mask[ends[lens > 0] - 1] = False
            pos_w1 = np.flatnonzero(mask)
            w1 = flat[pos_w1]
            w2 = flat[pos_w1 + 1]

            def uni_lookup(w):
                if v0 == 0:
                    z = np.zeros(w.size, np.int64)
                    return z, np.full(w.size, v0, np.int64)
                p = np.searchsorted(uh, w)
                pc = np.minimum(p, v0 - 1)
                ok = uh[pc] == w
                return (
                    np.where(ok, uc[pc], 0),
                    np.where(ok, pc, v0).astype(np.int64),
                )

            c1, dd1 = uni_lookup(w1)
            c2, dd2 = uni_lookup(w2)
            key = dd1 * np.int64(v0 + 1) + dd2
            if bk.size:
                bp = np.searchsorted(bk, key)
                bpc = np.minimum(bp, bk.size - 1)
                c12 = np.where(bk[bpc] == key, bc[bpc], 0)
            else:
                c12 = np.zeros(key.size, np.int64)
            # Mirror perplexity_score's expression tree exactly —
            # including its alpha=0 denominator guard (unseen context
            # at alpha=0 gives c1 + aV = 0; lam_eff is exactly 0
            # there so the bigram term is substituted with 0, never
            # evaluated as 0/0).
            c1d = c1.astype(np.float64)
            lam_eff = (lam_f * c1d) / (c1d + 1.0)
            bi_denom = c1d + av
            ok_d = bi_denom > 0.0
            with np.errstate(divide="ignore", invalid="ignore"):
                p_bi = np.where(
                    ok_d,
                    (c12.astype(np.float64) + alpha_f)
                    / np.where(ok_d, bi_denom, 1.0),
                    0.0,
                )
            p_uni = (c2.astype(np.float64) + alpha_f) / denom_uni
            p = lam_eff * p_bi + (1.0 - lam_eff) * p_uni
            ok_p = p > 0.0
            with np.errstate(divide="ignore"):
                logp = np.where(ok_p, np.log(np.where(ok_p, p, 1.0)), 0.0)
            doc_idx = np.repeat(np.arange(n_docs), nb)
            sums = np.bincount(
                doc_idx, weights=np.where(ok_p, logp, 0.0),
                minlength=n_docs,
            )
            n_ok = np.bincount(
                doc_idx, weights=ok_p.astype(np.float64),
                minlength=n_docs,
            )
            has = n_ok > 0
            avg[has] = sums[has] / n_ok[has]
        ppl = np.exp(-avg)
        # Nullable Float64 (masked), not float64-with-NaN: Arrow maps
        # the mask to real SQL NULLs — a plain NaN would reach Spark
        # as a (non-null) NaN double and diverge from the join path's
        # NULL for short / no-evidence documents.
        no_avg = np.isnan(avg)
        avg_s = pd.array(np.where(no_avg, 0.0, avg), dtype="Float64")
        ppl_s = pd.array(np.where(no_avg, 0.0, ppl), dtype="Float64")
        avg_s[no_avg] = pd.NA
        ppl_s[no_avg] = pd.NA
        return pd.DataFrame(
            {
                "n_bigrams": out_n,
                "avg_logp": avg_s,
                "perplexity": ppl_s,
            }
        )

    schema = StructType(
        [
            StructField("n_bigrams", LongType()),
            StructField("avg_logp", DoubleType()),
            StructField("perplexity", DoubleType()),
        ]
    )
    score_udf = F.pandas_udf(score_batch, schema)
    th = df.select(
        F.col(id_col), _token_hashes(text_col, token_mode).alias("__th")
    )
    scored = th.select(
        F.col(id_col), score_udf(F.col("__th")).alias("__s")
    )
    return scored.select(
        id_col,
        F.col("__s.n_bigrams").alias("n_bigrams"),
        F.col("__s.avg_logp").alias("avg_logp"),
        F.col("__s.perplexity").alias("perplexity"),
    )


def perplexity_score(
    df: DataFrame,
    id_col: str,
    lm: NGramLM,
    text_col: str = "text",
    alpha: float = 0.1,
    lam: float = 0.7,
    broadcast: bool = True,
    token_mode: str = "whitespace",
) -> DataFrame:
    """Per-document mean bigram log-probability and perplexity under
    ``lm``. Returns ``(id, n_bigrams, avg_logp, perplexity)``;
    documents with < 2 tokens score NULL (no bigram evidence).

    Plan: one positional explode of (w1, w2) per document, keyed
    left joins against the bigram counts on (w1, w2) and the unigram
    counts on w1 (context) and w2 (interpolation term; unseen counts
    coalesce to 0), smoothed probability in-row, one groupBy back to
    documents. Short documents ride the same explode: explode_outer
    emits one null-struct row for a <2-token document, the null join
    keys match nothing, and the aggregate counts only non-null
    bigrams — so no second scan of ``df`` and no join-back is needed
    to emit their NULL score (r9: the join-back was a whole extra
    shuffle join on every scoring pass).
    ``broadcast=True`` hints both LM sides map-side — right for a
    bounded reference LM; pass ``False`` for corpus-scale LMs and
    let AQE pick the join."""
    th = df.select(
        F.col(id_col), _token_hashes(text_col, token_mode).alias("__th")
    )
    pairs = th.select(
        F.col(id_col),
        F.explode_outer(
            F.when(
                F.size("__th") < 2,
                F.array().cast("array<struct<w1:bigint,w2:bigint>>"),
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("__th") - 2),
                    lambda i: F.struct(
                        F.get(F.col("__th"), i).alias("w1"),
                        F.get(F.col("__th"), i + 1).alias("w2"),
                    ),
                )
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bi = F.broadcast(lm.bigrams) if broadcast else lm.bigrams
    uni1 = F.broadcast(lm.unigrams) if broadcast else lm.unigrams
    uni2 = (
        F.broadcast(
            lm.unigrams.select(
                F.col("w1").alias("w2"), F.col("c1").alias("c2")
            )
        )
        if broadcast
        else lm.unigrams.select(
            F.col("w1").alias("w2"), F.col("c1").alias("c2")
        )
    )
    av = float(alpha) * lm.vocab_size
    c1d = F.coalesce(F.col("c1"), F.lit(0)).cast("double")
    lam_eff = F.lit(float(lam)) * c1d / (c1d + F.lit(1.0))
    # Denominator guard for the alpha=0 corner: an unseen context
    # gives c1 + aV = 0, an ANSI divide-by-zero — but lam_eff is
    # exactly 0 there (c1=0), so the bigram term contributes nothing;
    # substitute 0 rather than evaluating 0/0 (the in-row kernel's
    # arithmetic produces the same mask).
    p_bi_denom = (
        F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.lit(av)
    )
    p_bi = F.when(
        p_bi_denom > 0,
        (
            F.coalesce(F.col("c12"), F.lit(0)).cast("double")
            + F.lit(float(alpha))
        )
        / p_bi_denom,
    ).otherwise(F.lit(0.0))
    p_uni = (
        F.coalesce(F.col("c2"), F.lit(0)).cast("double") + F.lit(float(alpha))
    ) / F.lit(float(lm.total_tokens) + av)
    scored = (
        pairs.join(bi, ["w1", "w2"], "left")
        .join(uni1, ["w1"], "left")
        .join(uni2, ["w2"], "left")
        .select(
            F.col(id_col),
            # w1 rides along so the aggregate can count TRUE bigram
            # rows (null w1 = a short document's padding row).
            F.col("w1"),
            # Null w1 marks a short document's padding row — it must
            # not score (the coalesced-to-0 counts would otherwise
            # produce a REAL unseen-bigram probability for it).
            F.when(
                F.col("w1").isNotNull(),
                F.log(lam_eff * p_bi + (F.lit(1.0) - lam_eff) * p_uni),
            ).alias("__logp"),
        )
    )
    # n_bigrams counts BIGRAM rows (non-null w1), not non-null log
    # probabilities: at alpha=0 an unseen bigram's probability is 0
    # and F.log(0) is NULL in Spark, which avg() already skips (the
    # pre-r9 join-back shape behaved the same) — but the COUNT must
    # keep reporting the document's true bigram total (r9 review).
    return scored.groupBy(id_col).agg(
        F.count("w1").cast("bigint").alias("n_bigrams"),
        F.avg("__logp").alias("avg_logp"),
        F.exp(-F.avg("__logp")).alias("perplexity"),
    )
