"""Deduplication operators.

Pipeline dedup (reference R12) plus the dedup family a large-scale
training-data pipeline needs. Everything is expressed as DataFrame
compositions so Catalyst plans the shuffles:

- ``keep_one_per_key``    — one row per PK by order column (the
  silver-merge pre-pass; reference
  ``serverless_processing_iceberg/main.py:64-74``).
- ``dedup_exact``         — exact duplicate removal by content hash
  (hash-groupBy; one shuffle on the hash).
- ``ngram_jaccard_pairs`` — exact n-gram Jaccard similarity pairs via
  token-inverted-index self-join (no O(n²) cross join: the join is on
  shared tokens, so disjoint documents never meet).
- ``ngram_jaccard_prefix`` — the same exact pairs via AllPairs/PPJoin
  prefix filtering (rarest-gram prefixes + size-ratio filter):
  candidate volume shrinks ~(1−t)² and stop-phrase grams never
  enter the join — the exact-result scale path.
- ``minhash_lsh_pairs``   — MinHash signatures + banded LSH candidate
  pairs, the sub-quadratic scale path: shingle → H minhashes →
  b bands → bucket join; optional exact-Jaccard verification of
  candidates only.
- ``simhash_signatures``  — 64-bit SimHash per document; near-dups =
  signatures within a small Hamming distance.
- ``remove_duplicate_spans`` — exact-substring dedup: delete every
  duplicated ≥k-token span corpus-wide, keeping its first
  occurrence (distributed k-gram analogue of suffix-array
  ExactSubstr, Lee et al. 2021).
- ``decontaminate``       — GPT-3-style n-gram benchmark
  decontamination against an eval corpus;
  ``contamination_report`` is its audit twin (per-eval-doc hit
  counts + example train ids) and ``contamination_pairs`` the
  shared (eval, train, shared-gram-count) core both can consume.
- ``build_lsh_index`` / ``lsh_pairs_index_vs_index`` — batch-vs-corpus
  near-dup pairs between two prebuilt LSH indexes (the
  daily-increment shape: an arriving batch against a standing
  index) without re-running either side's signature pass.
- embedding near-dup lives in ``operators/similarity.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# Pipeline PK dedup (R12)
# ---------------------------------------------------------------------------
def keep_one_per_key(
    df: DataFrame,
    keys: list[str],
    order_col: str = "_insert_date",
    ascending: bool = True,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Keep exactly one row per key, picked by ``order_col``.

    The reference ranks **ascending** on ``_insert_date`` and keeps
    rank 1 — i.e. the *earliest* record within a batch (its docstring
    says "latest" but ``rank('ordinal')`` is ascending; SURVEY §7.4).
    Replicated faithfully; pass ``ascending=False`` for true
    latest-wins. ``tiebreakers`` make tie rows deterministic (the
    reference breaks ties by input order, which has no distributed
    equivalent). Executes as one shuffle on the keys; with AQE the
    partition count adapts to the batch size.
    """
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    order += [F.col(c).asc() for c in (tiebreakers or [])]
    return keep_one_ordered(df, keys, order)


def keep_one_ordered(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    """Generalized one-row-per-key with an explicit ordering spec
    (list of Columns). One shuffle on the keys."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Exact content dedup
# ---------------------------------------------------------------------------
def dedup_exact(
    df: DataFrame,
    content_cols: list[str],
    id_col: str | None = None,
) -> DataFrame:
    """Exact dedup by content: one representative row per distinct
    content tuple. With ``id_col`` the representative is the minimum
    id (deterministic); otherwise an arbitrary row wins
    (``dropDuplicates`` — cheaper, map-side partial aggregation).

    The groupBy key is a 64-bit hash of the content, not the content
    itself, so the shuffle moves 8 bytes + the row instead of
    shuffling long document texts twice."""
    if id_col is None:
        return df.dropDuplicates(content_cols)
    h = F.xxhash64(*[F.col(c) for c in content_cols])
    w = Window.partitionBy(h).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Tokenization shared by the similarity-dedup family
# ---------------------------------------------------------------------------
def _hashed_tokens(text_col: str):
    """Column: 64-bit hashes of the lowercased whitespace tokens, in
    document order. Each variable-length token string is hashed
    exactly ONCE; all gram arithmetic downstream runs on fixed-width
    longs."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != ""
    )
    return F.transform(toks, lambda t: F.xxhash64(t))


def _grams_from_hashes(th, n: int):
    """Column: distinct n-gram hashes from a **bound** token-hash
    array column — ``xxhash64(th[i], …, th[i+n-1])`` per position.

    ``th`` MUST be a materialized column reference, never an inline
    expression: higher-order functions get no codegen subexpression
    elimination, and this expression references ``th`` n times per
    gram — inlined tokenization would re-split the text O(n·L) times
    per row (the r5 plans paid exactly that; staging the token hashes
    in their own projection halved the n-gram family's bench time).
    Documents shorter than ``n`` yield no grams (guarded —
    ``sequence(0, -1)`` would DESCEND)."""
    if n <= 1:
        return F.array_distinct(th)
    return F.array_distinct(_positional_gram_hashes(th, n))


def _positional_gram_hashes(th, n: int):
    """Column: n-gram hashes at EVERY start position (array index i =
    gram starting at token i) — the positional variant of
    :func:`_grams_from_hashes`, same bound-column requirement. Used
    where gram → token-span mapping matters (duplicated-span
    removal)."""
    if n <= 1:
        return th
    return F.when(
        F.size(th) < n, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(th) - n),
            lambda i: F.xxhash64(*[F.get(th, i + F.lit(j)) for j in range(n)]),
        )
    )


def gram_hash_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    out_col: str = "__grams",
    share: bool = False,
) -> DataFrame:
    """(id, distinct n-gram hash set) per document, all in-row (zero
    shuffle): stage the token-hash array in its own projection (kept
    by CollapseProject because it is multi-referenced and non-cheap),
    then derive gram hashes from the bound column. Gram identity is
    the 64-bit hash of the n token hashes — set-equivalent to
    distinct gram strings (tokens cannot contain the split
    whitespace, so the token-tuple → string mapping is injective;
    64-bit collisions are negligible).

    ``share=True`` persists the (id, gram-set) projection so SEVERAL
    analyses over the same corpus pay the tokenize+hash pass once:
    Spark's CacheManager matches by canonicalized plan, so every
    operator that builds this projection from the same input plan
    (exact Jaccard, its capped/prefix variants, corpus dedup) reads
    the one cached copy — the "shared gram projection" a production
    pipeline would stage explicitly. Cached rows are (8-byte id,
    gram-hash array) — ~8 bytes per corpus token, far smaller than
    the text. Lifecycle: released via ContextCleaner on GC or
    ``spark.catalog.clearCache()``; single-shot callers should leave
    the default off."""
    staged = df.select(
        F.col(id_col), _hashed_tokens(text_col).alias("__th")
    )
    out = staged.select(
        F.col(id_col),
        _grams_from_hashes(F.col("__th"), n).alias(out_col),
    )
    if share:
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
    return out


def _explode_grams(gram_df: DataFrame, id_out: str, grams_col: str = "__grams"):
    """Explode a gram-set column to (id, gram) rows — with
    ``explode_outer`` + a post-Generate null filter, never plain
    ``explode``: for an inner explode, ``InferFiltersFromGenerate``
    clones the generator's ENTIRE expression tree into an inferred
    ``size(...) > 0`` filter and pushes it below the projections —
    re-evaluating the tokenization several times per input row
    (measured 10× slower at sf0.1). The outer explode infers no
    filter; gram-less documents yield one null row, dropped here on
    the cheap *output* column (which cannot be pushed below the
    Generate)."""
    first = gram_df.columns[0]
    return gram_df.select(
        F.col(first).alias(id_out),
        F.explode_outer(grams_col).alias("__tok"),
    ).filter(F.col("__tok").isNotNull())


def _probe_gram_count(gram_sets: DataFrame) -> int:
    """Total gram count over a ``gram_hash_sets`` projection WITHOUT
    paying the explode — the auto-broadcast sizing probe.

    ``size(NULL)`` is NULL under ANSI (the Spark 4 default) but -1
    under legacy ``spark.sql.legacy.sizeOfNull`` with ANSI off —
    clamping through coalesce+greatest makes a null-text document
    (whose gram array is NULL) count 0 under either setting, keeping
    the probe exactly equal to the exploded row count regardless of
    ``spark.sql.ansi.enabled`` (r13 ADVICE: the raw SUM(size())
    undercounted by 1 per null-text doc in legacy mode, nudging an
    over-cap suite toward broadcast)."""
    return (
        gram_sets.select(
            F.sum(
                F.greatest(
                    F.coalesce(F.size("__grams"), F.lit(0)), F.lit(0)
                )
            ).alias("__n")
        ).first()["__n"]
        or 0
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (inverted-index join)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    max_doc_frac: float | None = None,
    share_grams: bool = False,
) -> DataFrame:
    """All document pairs with n-gram Jaccard ≥ threshold.

    ``share_grams=True`` persists the per-document gram-set
    projection so sibling analyses over the same corpus (the capped
    and prefix variants, corpus dedup) reuse one tokenize+hash pass
    — see :func:`gram_hash_sets`.

    Shape: inverted index (token → docs) self-joined on token, so the
    candidate set is only pairs sharing ≥1 n-gram; intersection sizes
    come from one groupBy, union sizes from the per-doc counts.

    At scale the hot spot is frequent n-grams (stop-phrase skew): a
    gram in d documents contributes d² join rows. ``max_doc_freq``
    drops grams whose document frequency exceeds the cap *before*
    the self-join (one extra groupBy on the 8-byte gram hash),
    bounding the per-gram blowup to cap². With the cap on, reported
    intersections (and therefore Jaccard) are a lower bound — a pair
    is missed only if its entire overlap sits in ultra-frequent
    grams, which near-duplicate pairs by construction do not. Leave
    ``None`` for the exact oracle path; set it (e.g. 1000) for
    web-scale corpora — or prefer ``minhash_lsh_pairs``, whose cost
    is frequency-independent.

    An ABSOLUTE cap assumes overlap-carrying grams have corpus-size-
    independent document frequency (true of real text, where a near-
    dup pair's shared grams are rare phrases). On templated or small-
    vocabulary corpora, df scales linearly with corpus size and a
    fixed cap silently prunes more of the overlap at every scale-up —
    the r6 sf1 sweep caught exactly that (17 of 83 pairs survived a
    cap of 100 at 10× data). ``max_doc_frac`` expresses the cap as a
    fraction of the corpus instead (cap = ceil(frac · N), combined
    with ``max_doc_freq`` as a floor when both are set); N is joined
    in as a broadcast scalar, keeping the plan fully lazy.

    Returns columns ``id_a, id_b, jaccard`` with ``id_a < id_b``.
    """
    # Join on a 64-bit hash of the n-gram, not the string: the
    # inverted-index shuffle moves 8-byte keys instead of ~25-byte
    # trigrams and the join compares longs. A hash collision would
    # need two docs sharing a colliding pair to miscount by 1 —
    # negligible at 64 bits.
    #
    # The per-document gram-set size is F.size of the in-row array —
    # carried through the explode on every token row (8 bytes) so the
    # union size is already sitting on both sides of the self-join.
    # The r5 shape aggregated sizes from the exploded tokens and
    # joined them back per pair: one extra groupBy shuffle, two extra
    # joins, and a cache() barrier to share the exploded tokens —
    # all gone here. The self-join's two sides are byte-identical
    # plans, so the token exchange is built once and ReusedExchange
    # feeds both sides (no cache needed for single-pass reuse).
    # coalesce() makes __n provably non-null: the final jaccard
    # filter otherwise makes InferFiltersFromConstraints emit an
    # isnotnull(__n) that pushdown rewrites below the staging
    # projections with the WHOLE gram expression substituted in —
    # re-tokenizing the text several times per row (the same
    # pathology _explode_grams documents for generator filters;
    # measured 12× slower at sf0.1). Provably non-null → no inferred
    # filter → the staged projections stay intact.
    grams = gram_hash_sets(df, id_col, text_col, n, share=share_grams).select(
        F.col(id_col),
        F.col("__grams"),
        F.coalesce(F.size("__grams"), F.lit(0)).alias("__n"),
    )
    toks = grams.select(
        F.col(id_col).alias("__id"),
        F.col("__n"),
        F.explode_outer("__grams").alias("__tok"),
    ).filter(F.col("__tok").isNotNull())
    # ONE explicit hash-partitioning of the token set feeds both
    # sides of the self-join (and, when capping, the df window):
    # without it each join side builds its own exchange over its own
    # copy of the tokenize+explode pipeline — measured 1.7× slower at
    # sf0.1 than sharing the single repartition. Partition count
    # pinned to cores, not AQE's byte-based coalescing: 8-byte token
    # rows are byte-small but the join is compute-dense per row.
    toks = toks.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "__tok"
    )
    join_toks = toks
    if max_doc_freq is not None or max_doc_frac is not None:
        # Document frequency as a groupBy over the SAME token
        # hash-partitioning staged above (partial+final aggregate in
        # one stage, no new exchange) with the surviving-gram set
        # joined back via a shuffled hash join on that partitioning.
        # NOT a count() window: partitionBy(__tok) makes WindowExec
        # SORT the full token set by gram hash on each side —
        # measured 2.5× slower at sf0.1 and strictly more work at
        # every scale (the frequency table after map-side combine is
        # |distinct grams| rows, far smaller than the token set).
        freq = toks.groupBy("__tok").agg(F.count("*").alias("__df"))
        if max_doc_frac is not None:
            # Corpus size as a broadcast 1-row scalar — a
            # BroadcastNestedLoopJoin against one row costs nothing
            # and keeps construction lazy (no driver-side count()).
            total = df.agg(F.count(F.lit(1)).alias("__total"))
            cap = F.ceil(F.lit(max_doc_frac) * F.col("__total")).cast(
                "long"
            )
            if max_doc_freq is not None:
                cap = F.greatest(F.lit(int(max_doc_freq)).cast("long"), cap)
            freq = (
                freq.crossJoin(F.broadcast(total))
                .filter(F.col("__df") <= cap)
                .drop("__total")
            )
        else:
            freq = freq.filter(F.col("__df") <= max_doc_freq)
        join_toks = toks.join(
            freq.drop("__df").hint("shuffle_hash"), "__tok"
        )
    # shuffle_hash pins the self-join to a shuffled hash join: left
    # free to AQE, a broadcast flip would rebuild one entire side
    # (tokenize + explode) into a broadcast relation instead of
    # reusing the token exchange — and a corpus self-join is never
    # broadcastable at production scale anyway. With both sides
    # shuffling on __tok, the two byte-identical plans share ONE
    # exchange (ReusedExchange, plan-gated).
    left = join_toks.alias("l")
    right = join_toks.hint("shuffle_hash").alias("r")
    # (__na, __nb) are functionally dependent on (id_a, id_b) — adding
    # them to the groupBy keys is free (same group count) and saves
    # the two size join-backs the r5 plan paid.
    #
    # The EXPLICIT pair repartition before the groupBy pins the
    # intersection aggregate's parallelism: candidate-pair rows are
    # byte-small (~40 B) but the aggregate is compute-dense (group
    # count ≈ candidate count — pairs sharing one gram dominate), so
    # AQE's byte-based coalescing collapses the exchange to ONE task
    # and single-threads ~2/3 of the whole job (measured 3.1 s →
    # 2.0 s at sf0.1 with parallelism restored). An explicit
    # numPartitions repartition is exempt from AQE coalescing, and
    # hash-partitioning on (id_a, id_b) satisfies the groupBy's
    # clustering (the appended size keys are id-functional), so no
    # second exchange appears.
    # PPJoin's LENGTH filter, applied AT the join (r9): J(a,b) ≤
    # min(|a|,|b|)/max(|a|,|b|), so any pair whose size ratio is
    # below the threshold can be dropped before the pair shuffle —
    # exact (zero recall loss), and it prunes where it is cheapest
    # (measured at sf0.1: 1.27 M → 0.47 M candidate rows into the
    # intersection aggregate, entry 2.0 → 1.4 s; at production scale
    # it bounds the second shuffle by the same ratio). The 1e-9
    # slack keeps a pair sitting exactly ON the ratio boundary
    # (min/max = t, reachable with integer sizes) from being lost
    # when t·max rounds up in binary float — common thresholds
    # round clean, but the guard costs nothing and holds for any t.
    pairs = (
        left.join(right, on="__tok")
        .filter(F.col("l.__id") < F.col("r.__id"))
        .filter(
            F.least("l.__n", "r.__n").cast("double")
            >= float(threshold) * F.greatest("l.__n", "r.__n") - 1e-9
        )
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            F.col("l.__id"),
            F.col("r.__id"),
        )
        .groupBy(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.col("l.__n").alias("__na"),
            F.col("r.__n").alias("__nb"),
        )
        .agg(F.count("*").alias("__inter"))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


# ---------------------------------------------------------------------------
# MinHash + banded LSH (sub-quadratic scale path)
# ---------------------------------------------------------------------------
def _band_hash_arr(bases, bands: int, rows: int):
    """Column: per-band LSH bucket hashes — band b's hash is one
    multi-argument ``xxhash64`` over its ``rows`` minhash values,
    all computed in-row from the gram-hash array.

    This JVM expression is the executable SPEC for the Arrow kernel
    in :func:`_banded_rows` (the production path since r12 — ~2×
    faster at sf1 and beyond); bit-equality between the two is
    pinned by tests/test_operators.py. Keep them in lockstep.

    The inner minhash lambda is built by a closure FACTORY, never by
    the ``lambda t, _j=j:`` default-arg idiom (r12 bug): PySpark
    introspects the Python lambda's PARAMETER COUNT to pick the HOF
    form, so a default second parameter silently selects the
    two-argument ``(element, position)`` ``transform`` and the
    position column OVERRIDES the captured default — the shipped
    r6-r11 expression hashed ``b*rows + gram_position`` (position-
    sensitive, both band rows identical) instead of
    ``b*rows + j``. Verified pairs stayed correct (exact-Jaccard
    verification), but the candidate recall curve was effectively
    1-(1-s)^b on an order-sensitive family, not the documented
    1-(1-s^r)^b on MinHash proper. Capturing the OUTER lambda var
    (``b``) inside the inner lambda is safe — each
    ``_unresolved_named_lambda_variable`` is freshened to a unique
    name at creation, so there is no shadowing (verified against the
    analyzed plan and the SQL-textual spelling)."""

    def _min_for(b, j: int):
        return F.array_min(
            F.transform(
                bases,
                lambda t: F.xxhash64(t, b * F.lit(rows) + F.lit(j)),
            )
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(*[_min_for(b, j) for j in range(rows)]),
    )


# Id types that survive the Arrow→pandas→Arrow round-trip losslessly
# once nulls are filtered (integrals stay int64, strings stay object,
# etc.). Anything else — DecimalType, nested structs/arrays/maps —
# routes to the JVM expression path in _banded_rows.
_PANDAS_SAFE_ID_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.BooleanType,
    T.BinaryType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


def _banded_rows(
    gram_sets: DataFrame, bands: int, rows: int, id_out: str = "__id"
) -> DataFrame:
    """(id, band, band_hash) rows from an (id, __grams) projection
    (id = first column, as in :func:`_explode_grams`).

    Computed by an Arrow kernel running the vectorized XXH64 ports
    (:mod:`operators.xxhash_np`) — bit-identical to the JVM
    expression spelling (:func:`_band_hash_arr`; equality pinned in
    tests/test_operators.py), ~2× faster at sf0.1 and linearly
    better with gram count: the derived-hash grid is
    ``num_hashes × grams`` XXH64 rounds per document, which the
    interpreted HOF walks expression-node-at-a-time while numpy runs
    it as fused uint64 array ops. Pure map, zero shuffle, same as
    the expression form. Mins reduce over the SIGNED int64 view
    (Spark's ``array_min`` on bigint); band hashes chain the unsigned
    bit patterns through ``hashLong`` exactly as the multi-arg
    ``xxhash64(m_0 … m_{r-1})`` does.

    Empty and NULL gram arrays emit no rows — the contract the old
    ``posexplode_outer`` + null-filter spelling had. NULL-id rows
    emit no rows either (r13, both paths): a null id can never reach
    emitted output — every consumer joins or ``<``-compares on the id,
    which drops nulls — and filtering them BEFORE the kernel keeps an
    int64 id column int64 through the Arrow→pandas round-trip (with a
    null present, pandas widens the batch to float64/NaN and the cast
    back to the declared LongType fails). Id types without a lossless
    pandas round-trip (decimal, nested, ...) skip the kernel and run
    the JVM expression spec directly — same rows, no pandas."""
    import pandas as pd  # noqa: F401 — mapInPandas dependency

    from .xxhash_np import SEED, xxh64_int, xxh64_long

    num_hashes = bands * rows
    id_in = gram_sets.columns[0]
    src = gram_sets.select(F.col(id_in).alias(id_out), "__grams").filter(
        F.col(id_out).isNotNull()
    )
    id_field = src.schema[0]
    if not isinstance(id_field.dataType, _PANDAS_SAFE_ID_TYPES):
        # Exotic id type: the JVM expression path handles anything.
        return src.filter(
            F.col("__grams").isNotNull() & (F.size("__grams") > 0)
        ).select(
            id_out,
            F.posexplode(
                _band_hash_arr(F.col("__grams"), bands, rows)
            ).alias("__band", "__bh"),
        )
    out_schema = T.StructType(
        [
            T.StructField(id_out, id_field.dataType, id_field.nullable),
            T.StructField("__band", T.IntegerType(), False),
            T.StructField("__bh", T.LongType(), False),
        ]
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            lens = np.fromiter(
                (0 if g is None else len(g) for g in pdf["__grams"]),
                dtype=np.int64,
                count=len(pdf),
            )
            keep = lens > 0
            if not keep.any():
                continue
            pdf = pdf[keep]
            lens = lens[keep]
            n = len(pdf)
            flat = np.concatenate(
                [np.asarray(g, dtype=np.int64) for g in pdf["__grams"]]
            ).view(np.uint64)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            base = xxh64_long(flat, SEED)
            mins = np.empty((num_hashes, n), np.uint64)
            for i in range(num_hashes):
                hi = xxh64_int(np.uint64(i), base)
                mins[i] = np.minimum.reduceat(
                    hi.view(np.int64), starts
                ).view(np.uint64)
            bh = np.empty((bands, n), np.uint64)
            for b in range(bands):
                h = xxh64_long(mins[b * rows], SEED)
                for j in range(1, rows):
                    h = xxh64_long(mins[b * rows + j], h)
                bh[b] = h
            yield pd.DataFrame(
                {
                    id_out: np.repeat(pdf[id_out].to_numpy(), bands),
                    "__band": np.tile(np.arange(bands, dtype=np.int32), n),
                    "__bh": bh.T.reshape(-1).view(np.int64),
                }
            )

    return src.mapInPandas(kernel, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_size: int = 3,
    verify_threshold: float | None = 0.8,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    ``num_hashes`` minhashes split into ``bands`` bands of
    ``num_hashes // bands`` rows; documents sharing any band hash are
    candidates (probability of detection ≈ 1-(1-s^r)^b). Candidates
    come from a groupBy on (band, band_hash) — never a cross join —
    and are optionally verified with exact shingle Jaccard
    (``verify_threshold``), computed only for the candidate set.

    Returns ``id_a, id_b`` (+ ``jaccard`` when verifying).
    """
    # Everything per-document is computed IN-ROW (gram hashes, the H
    # minhashes, the per-band hashes) — no explode of the token set,
    # no wide aggregate. The only shuffles are the band-bucket
    # self-join (bands × 8 bytes per doc) and the candidate
    # verification joins (candidates only). Band hash: one xxhash64
    # over the band's r minhash values directly (multi-argument form
    # — no string join needed). The gram array is materialized once
    # (own projection + persist): the band expression references it
    # 129 times and HOFs get no codegen subexpression elimination, so
    # inlined it would re-tokenize per reference; persisting also
    # feeds the verification joins without re-reading the corpus.
    state = build_lsh_index(
        df, id_col, text_col, num_hashes, bands, shingle_size
    )
    state.grams_df = state.grams_df.persist()
    return lsh_self_pairs(state, verify_threshold)


def lsh_self_pairs(
    index: "LshIndex",
    verify_threshold: float | None = 0.8,
) -> DataFrame:
    """Within-corpus near-duplicate pairs from a prebuilt
    :class:`LshIndex` (r8 split of :func:`minhash_lsh_pairs` — lets
    one signature/band computation feed BOTH the self-pair and the
    batch-vs-index legs instead of recomputing per consumer).
    Returns ``id_a, id_b`` (+ ``jaccard`` when verifying)."""
    banded = index.bands_df
    left = banded.select(
        F.col("__cid").alias("__la"), "__band", "__bh"
    ).alias("l")
    right = banded.select(
        F.col("__cid").alias("__rb"), "__band", "__bh"
    ).alias("r")
    candidates = (
        left.join(right, on=["__band", "__bh"])
        .filter(F.col("__la") < F.col("__rb"))
        .select(F.col("__la").alias("id_a"), F.col("__rb").alias("id_b"))
        .distinct()
    )
    if verify_threshold is None:
        return candidates
    # Exact verification, also in-row: fetch the two (hashed) gram
    # sets per candidate pair and intersect them with
    # ``array_intersect`` — candidate volume is small by construction,
    # so shipping two gram arrays per pair beats re-exploding the
    # whole corpus into an inverted index.
    gram_sets = index.grams_df
    verified = (
        candidates.join(
            gram_sets.select(
                F.col("__cid").alias("id_a"), F.col("__grams").alias("__ga")
            ),
            "id_a",
        )
        .join(
            gram_sets.select(
                F.col("__cid").alias("id_b"), F.col("__grams").alias("__gb")
            ),
            "id_b",
        )
        .withColumn(
            "__inter", F.size(F.array_intersect("__ga", "__gb"))
        )
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__ga") + F.size("__gb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) LSH dedup
# ---------------------------------------------------------------------------
@dataclass
class LshIndex:
    """A reusable MinHash-LSH index over a corpus: the banded bucket
    rows plus the gram sets for exact verification — the state an
    INCREMENTAL ingest pipeline keeps between batches (daily crawl
    increments dedup against the standing corpus without ever
    re-pairing the corpus with itself).

    ``bands_df``: (__band, __bh, __cid); ``grams_df``:
    (__cid, __grams). Both are plain DataFrames — persist() them for
    multi-batch reuse, or write them to a table and reload (the
    index is pure data; rebuilding from parquet is exact)."""

    bands_df: DataFrame
    grams_df: DataFrame
    num_hashes: int
    bands: int
    shingle_size: int

    def persist(self) -> "LshIndex":
        self.bands_df.persist()
        self.grams_df.persist()
        return self

    def unpersist(self) -> "LshIndex":
        self.bands_df.unpersist()
        self.grams_df.unpersist()
        return self


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_size: int = 3,
) -> LshIndex:
    """Build the standing-corpus side of incremental LSH dedup: one
    pass over the corpus computing gram sets and banded bucket
    hashes IN-ROW (same zero-shuffle signature plan as
    :func:`minhash_lsh_pairs`). O(corpus) once; every subsequent
    batch pays only O(batch + matches)."""
    rows = num_hashes // bands
    grams = gram_hash_sets(df, id_col, text_col, shingle_size).select(
        F.col(id_col).alias("__cid"), "__grams"
    )
    banded = _banded_rows(grams, bands, rows, id_out="__cid")
    return LshIndex(
        bands_df=banded,
        grams_df=grams,
        num_hashes=num_hashes,
        bands=bands,
        shingle_size=shingle_size,
    )


def lsh_pairs_index_vs_index(
    batch_index: LshIndex,
    corpus_index: LshIndex,
    verify_threshold: float | None = 0.8,
    broadcast_new: bool = True,
) -> DataFrame:
    """Near-duplicate matches of a NEW batch against an indexed
    corpus, ``(new_id, corpus_id[, jaccard])``, with both sides in
    index form (e.g. both are slices of ONE full-corpus index): a
    band-bucket candidate join, then exact-Jaccard verification on
    the fetched gram sets. The batch side's banded rows and gram
    sets ship map-side (``broadcast_new=True``, the default; flip it
    off for a huge backfill batch and AQE plans the shuffle join);
    the corpus never self-joins, and its gram sets are fetched for
    the candidate ids only.

    Neither side is re-tokenized or re-signed; at 100 TB the
    signature pass IS the dominant cost of the LSH family, so a
    pipeline that already holds index rows for both sides should
    never hand text back to the pairing step (r9: the driver's
    minhash entry computed signatures over the corpus twice —
    full-corpus leg plus a rebuilt parity-split index).

    The two indexes MUST share (num_hashes, bands, shingle_size):
    band hashes from different parameter families land in disjoint
    buckets, so a mismatch silently collapses recall to ~0 rather
    than erroring — and mismatched shingle sizes make the Jaccard
    verification intersect gram sets of different n. Checked loudly
    here (r9 review)."""
    mismatches = [
        (name, getattr(batch_index, name), getattr(corpus_index, name))
        for name in ("num_hashes", "bands", "shingle_size")
        if getattr(batch_index, name) != getattr(corpus_index, name)
    ]
    if mismatches:
        raise ValueError(
            "lsh_pairs_index_vs_index: batch and corpus indexes were "
            "built with different parameters — "
            + ", ".join(f"{n}: {a} vs {b}" for n, a, b in mismatches)
            + " (a mismatch silently finds ~no pairs; rebuild one "
            "side with matching parameters)"
        )
    new_banded = batch_index.bands_df.select(
        F.col("__cid").alias("__nid"), "__band", "__bh"
    )
    new_grams = batch_index.grams_df.select(
        F.col("__cid").alias("__gid"), "__grams"
    )
    if broadcast_new:
        new_banded = F.broadcast(new_banded)
    candidates = (
        new_banded.join(corpus_index.bands_df, ["__band", "__bh"])
        .select(
            F.col("__nid").alias("new_id"),
            F.col("__cid").alias("corpus_id"),
        )
        .distinct()
    )
    if verify_threshold is None:
        return candidates
    new_side = new_grams.select(
        F.col("__gid").alias("new_id"), F.col("__grams").alias("__ga")
    )
    if broadcast_new:
        new_side = F.broadcast(new_side)
    return (
        candidates.join(new_side, "new_id")
        .join(
            corpus_index.grams_df.select(
                F.col("__cid").alias("corpus_id"),
                F.col("__grams").alias("__gb"),
            ),
            "corpus_id",
        )
        .withColumn("__inter", F.size(F.array_intersect("__ga", "__gb")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__ga") + F.size("__gb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """64-bit SimHash per document, computed entirely **in-row**.

    Each distinct token contributes +1/−1 to every bit position
    according to its 64-bit hash; the signature's bit b is 1 iff the
    sum for b is positive. The whole signature is one single-pass
    ``aggregate`` over the token-hash array — a pure map with ZERO
    shuffle, embarrassingly parallel at any corpus size. (The r1
    shape — explode tokens → groupBy(doc) with 64 conditional-sum
    aggregates — shuffled the exploded token set and compiled a
     64-column codegen aggregate for the same arithmetic; in-row is
    ~2× faster at sf0.1 and removes the shuffle entirely.)

    Bit plumbing is pure 64-bit integer arithmetic (r12; the r6-r11
    shape rendered each hash as its 64-char ``bin`` string and voted
    by comparing single-char substrings — byte-identical signatures,
    but every token paid a 64-char string alloc + split + 64 string
    compares; the SQL ``>>`` operator takes an expression shift the
    ``F.shiftright`` wrapper does not expose, so the vote is
    ``(h >> b) & 1`` inside a ``zip_with`` over ``sequence(0,63)``).
    Bit b is set iff ``2·ones_b > n_tokens`` — exactly the old
    strict-majority vote (``ones - (n - ones) > 0``). Measured at
    sf0.1: entry median 1.52 → 1.30 s; at scale the win is the
    per-token constant, not the floor.

    Near-duplicates are signature pairs within a small Hamming
    distance: ``bit_count(a ^ b) <= d`` — cheap to evaluate on any
    candidate set (e.g. band on signature prefixes, same trick as
    MinHash-LSH)."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != "")
    harr = F.transform(F.array_distinct(toks), lambda t: F.xxhash64(t))
    # Materialized in its own projection: the fold references the
    # array once per row, but keeping tokenization out of the fold
    # expression keeps the plan readable and the projection cached.
    # Empty-doc drop on the CHEAP raw-token predicate BEFORE the
    # projection — a post-projection filter(size(__h) > 0) would be
    # pushed below it and re-evaluate harr (distinct + xxhash64 per
    # token) inside the predicate, doubling the signature pass.
    base = df.filter(F.size(toks) > 0).select(
        F.col(id_col), harr.alias("__h")
    )
    # Sign bit (b=63): arithmetic >> sign-extends, but & 1 still
    # isolates the true bit; shiftleft(1L, 63) is MIN_LONG, so the
    # final fold assembles with | (never +) to avoid overflow.
    sig = F.expr(
        """
        aggregate(
          zip_with(
            aggregate(
              __h,
              array_repeat(0L, 64),
              (acc, h) -> zip_with(acc, sequence(0, 63),
                                   (a, b) -> a + ((h >> b) & 1L))
            ),
            sequence(0, 63),
            (c, b) -> IF(2 * c > size(__h),
                         shiftleft(1L, CAST(b AS INT)), 0L)
          ),
          0L,
          (s, x) -> s | x
        )
        """
    )
    return base.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``64/prefix_bits`` signature
    chunks (a pair within Hamming d must agree exactly on at least one
    of d+1 chunks — pigeonhole), verify ``bit_count(xor) <= d``.

    The signature projection is cached because BOTH sides of the
    block self-join consume it; uncached, each side re-runs the
    corpus scan + 64-hash vote (measured r12: 1.3 → 5.6 s at sf0.1).
    The blocks are signature-sized (16 B/doc) and the cache drops at
    the caller's ``spark.catalog.clearCache()`` — the same published
    -intermediate lifecycle as ``ngram_jaccard_pairs``. A long-lived
    session that never clears the catalog should instead pass
    ``signatures`` (``simhash_signatures(df, id, text).persist()``)
    and ``unpersist()`` it after the action — the caller owns the
    lifecycle and this function caches nothing (the r12 ADVICE item;
    the ``contamination_pairs``/``test_grams`` escape-hatch
    precedent).

    When ``signatures`` is given, ``df`` and ``text_col`` are NOT
    consulted — the pairs come from the signatures' corpus, so the
    frame must have been built from the same corpus the caller wants
    deduplicated, with the SAME ``id_col`` name. Both column names
    are asserted up front so a mismatched frame fails loudly instead
    of silently pairing a different corpus (r13 ADVICE)."""
    if signatures is not None:
        missing = {id_col, "simhash"} - set(signatures.columns)
        if missing:
            raise ValueError(
                "simhash_near_duplicates: provided `signatures` is "
                f"missing column(s) {sorted(missing)} (have "
                f"{signatures.columns}); build it with "
                f"simhash_signatures(df, {id_col!r}, <text_col>) "
                "over the SAME corpus — `df`/`text_col` are unused "
                "when `signatures` is given"
            )
    sig = (
        signatures
        if signatures is not None
        else simhash_signatures(df, id_col, text_col).cache()
    )
    chunks = 64 // prefix_bits
    mask = (1 << prefix_bits) - 1
    chunk_cols = [
        F.shiftright(F.col("simhash"), c * prefix_bits).bitwiseAND(F.lit(mask))
        for c in range(chunks)
    ]
    blocked = sig.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.posexplode(F.array(*chunk_cols)).alias("__chunk", "__ch"),
    )
    left = blocked.alias("l")
    right = blocked.alias("r")
    return (
        left.join(right, on=["__chunk", "__ch"])
        .filter(F.col("l.__id") < F.col("r.__id"))
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    share_grams: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via AllPairs/PPJoin **prefix
    filtering** — the candidate-pruned scale path for exact near-dup.

    Order every document's grams by ascending global document
    frequency (rarest first); with threshold t, any pair with
    J ≥ t must share a gram within each side's first
    ``|d| − ceil(t·|d|) + 1`` grams (the prefix) — so the
    inverted-index self-join runs over PREFIXES only, shrinking
    candidate volume by ~(1−t)² versus the full-token join, and the
    frequency ordering puts the *rarest* grams in the prefix, which
    starves stop-phrase skew instead of capping it. Candidates then
    pass a size-ratio filter (min/max ≥ t, implied by J ≥ t) and
    exact verification over the full gram arrays.

    Same output contract as :func:`ngram_jaccard_pairs`
    (``id_a, id_b, jaccard``, exact); choose this shape when the
    corpus is too hot-grammed for the full inverted index and
    MinHash's approximation is unwanted. Cost: one extra groupBy for
    document frequencies and a per-doc sort of the gram array.
    """
    # Document frequency as a groupBy + shuffled-hash join back (a
    # count() window would sort the full token set by gram hash; the
    # frequency table is only |distinct grams| rows). NO explicit
    # repartition pin on the token set (r9): both groupBys on this
    # path have group count ≪ row count (distinct grams, then docs),
    # which is exactly the regime where the r7 rule says AQE's
    # byte-based coalescing is right and a pin only adds an
    # uncoalesced 32-way exchange — measured 1.3-1.6 → 0.7-1.0 s at
    # sf0.1 for the ranked-array stage after dropping it. (The pin
    # stays in ngram_jaccard_pairs, whose pair aggregate has group
    # count ≈ row count and whose self-join reuses the pinned
    # exchange on both sides.)
    toks = _explode_grams(
        gram_hash_sets(df, id_col, text_col, n, share=share_grams), "__id"
    )
    freq = toks.groupBy("__tok").agg(F.count("*").alias("__df"))
    ranked = toks.join(freq.hint("shuffle_hash"), "__tok")
    arrs = (
        ranked.groupBy("__id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__df", "__tok"))
                ),
                lambda s: s["__tok"],
            ).alias("__grams")
        )
        .withColumn("__sz", F.size("__grams"))
        .persist()
    )
    # ceil(t·sz) with a 1e-9 DOWNWARD bias: for thresholds whose
    # float product with some doc size is mathematically integral
    # but rounds UP in binary (e.g. t=1/75 at sz=525 →
    # 7.000000000000001), plain ceil lands one too high, shortening
    # the prefix by one and able to MISS a true pair whose overlap
    # sits just past the truncated prefix (r9 defensive exactness
    # guard — the bias can only lengthen the prefix, never cut it;
    # common thresholds like 0.8 happen to round clean at realistic
    # sizes, so no failing corpus existed for them).
    prefix_len = (
        F.col("__sz")
        - F.ceil(F.lit(float(threshold)) * F.col("__sz") - 1e-9)
        + 1
    ).cast("int")
    prefixes = arrs.select(
        "__id",
        "__sz",
        F.explode(F.slice("__grams", 1, prefix_len)).alias("__tok"),
    )
    left = prefixes.alias("l")
    right = prefixes.alias("r")
    candidates = (
        left.join(right, on="__tok")
        .filter(F.col("l.__id") < F.col("r.__id"))
        # Size-ratio filter: J ≥ t forces min(|a|,|b|) ≥ t·max(|a|,|b|).
        # 1e-9 slack: a pair exactly ON the boundary (min/max = t,
        # reachable with integer sizes) must not be lost to
        # binary-float rounding of t·max (same guard as the length
        # filter in ngram_jaccard_pairs).
        .filter(
            F.least(F.col("l.__sz"), F.col("r.__sz")).cast("double")
            >= F.lit(float(threshold))
            * F.greatest(F.col("l.__sz"), F.col("r.__sz"))
            - 1e-9
        )
        .select(
            F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
        )
        # NO parallelism pin before this distinct (unlike the pair
        # aggregate in ngram_jaccard_pairs): the prefix filter has
        # already pruned the candidate volume ~(1-t)², so the
        # distinct is not the bottleneck and an extra full exchange
        # measured ~0.8 s SLOWER at sf0.1 than letting AQE coalesce.
        .distinct()
    )
    verified = (
        candidates.join(
            arrs.select(
                F.col("__id").alias("id_a"), F.col("__grams").alias("__ga")
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("__id").alias("id_b"), F.col("__grams").alias("__gb")
            ),
            "id_b",
        )
        .withColumn("__inter", F.size(F.array_intersect("__ga", "__gb")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__ga") + F.size("__gb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------
# Distinct 8-byte gram hashes the auto mode will still broadcast: 20 M
# longs ≈ 160 MB raw (~320 MB as a broadcast hash relation) — inside a
# 4 GB executor's comfort zone, far past any real eval suite (GPT-3's
# full decontamination set was ~10 M grams).
DECONTAMINATE_BROADCAST_GRAM_CAP = 20_000_000


def eval_gram_set(
    test: DataFrame, id_col: str, text_col: str, n: int = 13
) -> DataFrame:
    """Distinct 8-byte gram hashes of the eval corpus — the static
    side of decontamination. Compute once (and ``persist()`` when
    reused across micro-batches or corpus shards)."""
    return (
        _explode_grams(gram_hash_sets(test, id_col, text_col, n), "__tid")
        .select("__tok")
        .distinct()
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_shared: int = 1,
    broadcast: bool | None = None,
    test_grams: DataFrame | None = None,
) -> DataFrame:
    """Drop training documents that overlap the eval/test corpus —
    the GPT-3-style n-gram decontamination rule (Brown et al. 2020,
    appendix C: 13-gram collisions mark a training document as
    contaminated). A training-data pipeline runs this before every
    release so benchmark answers don't leak into the corpus.

    Shape at scale: the TEST side is small by construction (eval
    suites), so its distinct gram-hash set is built once and
    broadcast; the TRAIN side — the 100 TB one — streams through a
    single map-side hash-join + groupBy on the 8-byte doc id. No
    train-side self-join, no test-side shuffle. Gram arrays are
    in-row distinct (:func:`gram_hash_sets`), so per-doc join hits
    count DISTINCT shared grams without an extra dedup.

    Returns the clean training corpus (rows with ≥ ``min_shared``
    shared n-grams removed). ``broadcast=None`` (default) counts the
    distinct test grams first (one cheap job over the small eval
    side) and broadcasts only when the set fits under
    ``DECONTAMINATE_BROADCAST_GRAM_CAP`` — an oversized eval corpus
    degrades to an AQE-planned shuffle join instead of silently
    exploding driver memory. Pass ``True``/``False`` to skip the
    sizing job and force the strategy.

    ``test_grams`` accepts a precomputed (ideally persisted)
    :func:`eval_gram_set` so repeated calls — one per streaming
    micro-batch in :func:`streaming.decontaminate_stream.
    decontaminate_stream` — reuse one gram extraction instead of
    re-deriving it from ``test`` every time.
    """
    if test_grams is None:
        test_grams = eval_gram_set(test, id_col, text_col, n)
    train_toks = _explode_grams(
        gram_hash_sets(train, id_col, text_col, n), "__cid"
    )
    if broadcast is None:
        broadcast = test_grams.count() <= DECONTAMINATE_BROADCAST_GRAM_CAP
    gram_side = F.broadcast(test_grams) if broadcast else test_grams
    contaminated = (
        train_toks.join(gram_side, "__tok")
        .groupBy("__cid")
        .agg(F.count("*").alias("__shared"))
        .filter(F.col("__shared") >= min_shared)
        .select("__cid")
    )
    return train.join(
        contaminated, train[id_col] == contaminated["__cid"], "left_anti"
    )


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_shared: int = 1,
    broadcast: bool | None = None,
    test_grams: DataFrame | None = None,
) -> DataFrame:
    """Every contaminated (eval, train) document pair with its
    distinct shared-gram count: ``(__tid, __cid, __shared)`` — the
    shared core of the decontamination family. One train-side gram
    explode, one join against the eval grams (broadcast when they
    fit — eval suites are small by construction), one
    map-side-combinable pair aggregate; output volume is bounded by
    actual contamination, not corpus size. Persist the result when
    several consumers (audit report + contaminated-id set) read it.

    ``test_grams`` accepts the precomputed per-eval-doc gram pairs
    ``(__tid, __tok)`` (the ``_explode_grams(gram_hash_sets(test,
    ...), "__tid")`` shape — NOT the distinct set
    :func:`eval_gram_set` yields); the caller owns its lifecycle.

    ``broadcast`` mirrors :func:`decontaminate`'s cap-gated
    auto-sizing (r10 advisory — the public operator previously
    broadcast unconditionally, so a very large eval suite forced an
    over-cap broadcast): ``None`` sizes the exploded eval grams and
    broadcasts only under ``DECONTAMINATE_BROADCAST_GRAM_CAP``;
    ``True``/``False`` skip the sizing job and force the strategy.
    When this function builds the grams itself the probe is
    ``SUM(size(__grams))`` over the PRE-explode projection — exact
    (``gram_hash_sets`` arrays are per-doc distinct, and
    ``_explode_grams`` drops exactly the null/empty rows that
    contribute nothing to the sum) and it never materializes a row
    per gram, so an over-cap suite no longer pays the explode during
    sizing (r12 ADVICE). A caller-provided ``test_grams`` has an
    arbitrary plan, so it is sized with a plain parallel ``count()``.
    (Neither form is ``limit(cap + 1).count()`` — the r12 first
    attempt: a non-terminal limit plans ``LocalLimit → Exchange
    SinglePartition → GlobalLimit``, funneling up to
    partitions × (cap + 1) row headers through ONE task — verified
    on the physical plan — while the per-partition LocalLimit
    almost never stops the explode early.)
    The probe does NOT cache anything (r12, r11 advisory: the r11
    persisted-sizing variant left a session-lifetime cache no
    caller could unpersist, handing later canonically-identical
    plans silent replay credit — the exact CacheManager mechanism
    the r7 rule exists for), so in auto mode an under-cap suite's
    explode runs once for the probe and once for the build — eval
    suites are small by construction, and hot loops should pass
    ``test_grams`` (a precomputed, caller-owned gram set, ideally
    persisted or a collected local relation) or an explicit
    strategy to skip the probe entirely."""
    test_gram_sets = None
    if test_grams is None:
        test_gram_sets = gram_hash_sets(test, id_col, text_col, n)
        test_grams = _explode_grams(test_gram_sets, "__tid")
    train_toks = _explode_grams(
        gram_hash_sets(train, id_col, text_col, n), "__cid"
    )
    if broadcast is None:
        cap = DECONTAMINATE_BROADCAST_GRAM_CAP
        if test_gram_sets is not None:
            n_grams = _probe_gram_count(test_gram_sets)
        else:
            n_grams = test_grams.count()
        broadcast = n_grams <= cap
    gram_side = F.broadcast(test_grams) if broadcast else test_grams
    return (
        train_toks.join(gram_side, "__tok")
        .groupBy("__tid", "__cid")
        .agg(F.count("*").alias("__shared"))
        .filter(F.col("__shared") >= min_shared)
    )


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_shared: int = 1,
    examples: int = 3,
    pair_hits: DataFrame | None = None,
) -> DataFrame:
    """The AUDIT side of decontamination: per EVAL document, how much
    of the training corpus collides with it — ``(test_id,
    n_contaminated, example_train_ids)``. :func:`decontaminate`
    answers "give me the clean corpus"; a release review also needs
    "which benchmarks leaked, how badly, show me some" (GPT-3's
    appendix-C analysis tables are exactly this shape). Eval docs
    with no collisions report a 0 row, so a fully-clean sweep is an
    explicit all-zeros table, not an empty one.

    Shape at scale: train grams explode once (the same single pass
    :func:`decontaminate` does), join the small broadcast test-gram
    side KEEPING the test id, then reduce per (test, train) pair and
    per test — map-side combinable aggregates; example ids ride a
    bounded ``slice(sort_array(collect_set))``.

    ``pair_hits`` accepts a precomputed (ideally persisted)
    :func:`contamination_pairs` result so a pipeline that needs BOTH
    the audit table and the contaminated-id set (at
    ``min_shared=1`` the per-train-doc and per-pair thresholds
    select the same training documents) pays the train-side gram
    explode + broadcast join once. CONTRACT: when ``pair_hits`` is
    given, ``train``/``n``/``min_shared`` play no part in pair
    derivation (only ``test`` still does, for the explicit zero
    rows) — the caller must pass a pair set built with the SAME
    corpus and parameters it states here, or the report will
    silently describe different pairs than the signature
    advertises."""
    if pair_hits is None:
        pair_hits = contamination_pairs(
            train, test, id_col, text_col, n, min_shared
        )
    per_test = pair_hits.groupBy("__tid").agg(
        F.count("*").cast("bigint").alias("n_contaminated"),
        F.slice(
            F.sort_array(F.collect_set("__cid")), 1, examples
        ).alias("example_train_ids"),
    )
    return (
        test.select(F.col(id_col).alias("__tid"))
        .distinct()
        .join(per_test, "__tid", "left")
        .select(
            F.col("__tid").alias("test_id"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
                "n_contaminated"
            ),
            F.coalesce(
                F.col("example_train_ids"),
                F.array().cast("array<long>"),
            ).alias("example_train_ids"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring (duplicated-span) removal
# ---------------------------------------------------------------------------
def _raw_tokens(text_col: str):
    """Column: non-empty whitespace tokens, ORIGINAL case — this
    operator rewrites text, so tokens must round-trip; no lowercase
    normalization like the similarity family's :func:`_hashed_tokens`."""
    return F.filter(F.split(F.col(text_col), "\\s+"), lambda t: t != "")


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 13,
    out_col: str = "text_dedup",
) -> DataFrame:
    """Exact-substring deduplication: delete every duplicated span of
    ≥ ``k`` tokens from the corpus, keeping only its first occurrence
    (ordered by ``(id, position)``) — the distributed analogue of the
    suffix-array ExactSubstr dedup of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), expressed at k-gram
    granularity: a token is removed iff it is covered by a k-gram
    whose occurrence is not the corpus-first one. Any duplicated run
    of length L ≥ k is covered by its L−k+1 constituent k-grams, so
    whole repeated passages vanish from all-but-one document;
    within-document repetitions count too. Documents shorter than
    ``k`` tokens pass through untouched; all input documents appear
    in the output (possibly with empty text).

    Returns ``(id, text_dedup, n_kept, n_removed)`` where the counts
    are kept/removed token totals per document.

    Shape at scale (suffix arrays don't distribute; this does):

    - Gram identity is an 8-byte ``xxhash64`` over the k token
      hashes, computed IN-ROW from a staged token-hash projection
      (zero shuffle, same bound-column discipline as
      :func:`_grams_from_hashes`).
    - The corpus-first occurrence per gram is ``min(struct(id, pos))``
      under a ``groupBy`` on the gram hash — an algebraic aggregate
      with map-side partial combine, chosen over a window
      (``row_number`` over gram) deliberately: a stop-phrase gram
      occurring 10⁸ times at 100 TB would serialize one window
      partition, while partial ``min``/``count`` reduce it
      map-side.
    - Tokens themselves NEVER shuffle: only 8-byte (id, pos, gram)
      occurrence rows move. Non-first occurrences reduce to one
      removal-start array per affected document (``collect_set`` —
      one keyed shuffle), covered positions expand IN-ROW from those
      starts (bounded ×k on removal docs only), and reconstruction
      is an in-row positional ``filter`` over the original token
      array after a keyed left join of the small removal side onto
      the corpus (AQE broadcasts it when small). Every join is a
      keyed equi-join; nothing is ever all-pairs. An earlier shape
      that exploded every token for a (id, pos) anti-join + ordered
      re-assembly carried 10 exchanges and shuffled full token text
      twice; this one carries 7 (incl. scan-parallelism
      repartitions), none of which moves token text.
    """
    base, occ = _span_base_and_occ(df, id_col, text_col, k)

    canon = (
        occ.groupBy("__g")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first"),
            F.count("*").alias("__cnt"),
        )
        .filter(F.col("__cnt") >= 2)
        .select("__g", "__first")
    )
    # Removal-start positions per document (distinct: overlapping
    # duplicated grams repeat starts). 8-byte rows in, one array row
    # per affected doc out.
    removal_starts = (
        occ.join(canon, "__g")
        .filter(
            (F.col(id_col) != F.col("__first").getField(id_col))
            | (F.col("__pos") != F.col("__first").getField("__pos"))
        )
        .groupBy(id_col)
        .agg(F.collect_set("__pos").alias("__starts"))
    )
    return _apply_removal_starts(base, removal_starts, id_col, k, out_col)


def _span_base_and_occ(df, id_col: str, text_col: str, k: int):
    """(base, occ) for the span-removal family: ``base`` holds the
    raw token array per document, ``occ`` the exploded positional
    gram-hash occurrences. posexplode_outer + null filter, not
    posexplode: same InferFiltersFromGenerate pathology as
    _explode_grams (an inner generate clones the tokenize expression
    into a pushed-down size(...)>0 filter)."""
    base = df.select(F.col(id_col), _raw_tokens(text_col).alias("__toks"))
    staged = base.select(
        F.col(id_col),
        F.transform(F.col("__toks"), lambda t: F.xxhash64(t)).alias("__th"),
    )
    occ = staged.select(
        F.col(id_col),
        F.posexplode_outer(
            _positional_gram_hashes(F.col("__th"), k)
        ).alias("__pos", "__g"),
    ).filter(F.col("__g").isNotNull())
    return base, occ


def _apply_removal_starts(
    base: DataFrame, removal_starts: DataFrame, id_col: str, k: int,
    out_col: str,
) -> DataFrame:
    """Rewrite documents given per-doc removal-START arrays, all
    in-row: starts → covered-position set → positional token filter.
    Covered positions are sorted+distinct so the per-token
    array_contains probe is over a bounded, duplicate-free array."""
    cover_arr = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("__starts"),
                    lambda s: F.sequence(s, s + F.lit(k - 1)),
                )
            )
        )
    )
    joined = base.join(removal_starts, id_col, "left").select(
        F.col(id_col),
        F.col("__toks"),
        F.when(F.col("__starts").isNull(), F.array().cast("array<int>"))
        .otherwise(cover_arr)
        .alias("__cover"),
    )
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: ~F.array_contains(F.col("__cover"), i),
    )
    staged_kept = joined.select(
        F.col(id_col),
        F.size("__toks").cast("bigint").alias("__n_orig"),
        kept.alias("__kept"),
    )
    return staged_kept.select(
        F.col(id_col),
        F.concat_ws(" ", F.col("__kept")).alias(out_col),
        F.size("__kept").cast("bigint").alias("n_kept"),
        (F.col("__n_orig") - F.size("__kept"))
        .cast("bigint")
        .alias("n_removed"),
    )


def reference_span_grams(
    ref: DataFrame, id_col: str, text_col: str, k: int = 13
) -> DataFrame:
    """Distinct positional k-gram hashes of a static REFERENCE corpus
    (column ``__g``) — the static side of
    :func:`remove_reference_spans`. Raw-token hashing (no lowercase),
    consistent with the span family. Compute once and ``persist()``
    when reused across micro-batches."""
    _, occ = _span_base_and_occ(ref, id_col, text_col, k)
    return occ.select("__g").distinct()


def remove_reference_spans(
    df: DataFrame,
    ref_grams: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 13,
    out_col: str = "text_dedup",
    broadcast: bool = True,
) -> DataFrame:
    """Scrub from ``df`` every ≥ k-token span that ALSO occurs in a
    static reference corpus — the stream-vs-static variant of
    :func:`remove_duplicate_spans` (reference occurrences are
    canonical by definition, so every matching occurrence in ``df``
    is removed; unlike :func:`decontaminate`, the document survives
    with the span cut out rather than being dropped whole).

    Shape at scale: the reference gram-hash set joins map-side
    (broadcast by default — pass ``broadcast=False`` for an oversized
    reference, where AQE plans a keyed shuffle join); removal starts
    aggregate per doc and reconstruction is the shared in-row
    positional filter. The incoming corpus side never shuffles token
    text, same as the batch operator."""
    base, occ = _span_base_and_occ(df, id_col, text_col, k)
    gram_side = F.broadcast(ref_grams) if broadcast else ref_grams
    removal_starts = (
        occ.join(gram_side, "__g", "semi")
        .groupBy(id_col)
        .agg(F.collect_set("__pos").alias("__starts"))
    )
    return _apply_removal_starts(base, removal_starts, id_col, k, out_col)
