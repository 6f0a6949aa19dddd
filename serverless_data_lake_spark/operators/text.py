"""Text analysis operators for training-data pipelines.

All pure Column expressions (whole-stage codegen; zero Python in the
row path):

- ``tokenize`` / ``token_count`` — whitespace tokens plus a BPE-ish
  regex token count (word pieces, digits, punctuation runs).
- ``detect_language`` — stopword-hit heuristic over a small built-in
  lexicon (en/es/de/fr/pt); returns the best-scoring language or
  ``und``.
- ``quality_score`` — [0,1] heuristic from length, punctuation
  ratio, stopword ratio, mean word length — the usual cheap quality
  gates applied before expensive model-based filtering.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal stopword lexicons — enough signal for n-gram-free language
# ID on clean text; swap for fastText/CLD in environments that ship it.
_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
           "with", "as", "his", "on", "be", "at", "by", "this", "had", "not"],
    "es": ["de", "la", "que", "el", "en", "y", "los", "del", "se", "las",
           "por", "un", "para", "con", "una", "su", "al", "lo", "como", "más"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich",
           "des", "auf", "für", "ist", "im", "dem", "nicht", "ein", "eine", "als"],
    "fr": ["de", "la", "le", "et", "les", "des", "en", "un", "du", "une",
           "que", "est", "pour", "qui", "dans", "par", "plus", "pas", "au", "sur"],
    "pt": ["de", "a", "o", "que", "e", "do", "da", "em", "um", "para",
           "com", "não", "uma", "os", "no", "se", "na", "por", "mais", "as"],
}

_BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def tokenize(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokens, empties removed."""
    t = F.lower(text) if lowercase else text
    return F.filter(F.split(t, "\\s+"), lambda x: x != "")


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token count under three budgets:

    - ``whitespace`` — words (JVM-side, the fast default);
    - ``regex`` — GPT-style pieces by regex (letter runs, single
      digits, punctuation runs): a JVM-side, SQL-expressible length
      proxy (previously named ``bpe``, kept as a deprecated alias
      via ``regex_bpe``);
    - ``bpe`` — REAL byte-level BPE against the shipped frozen
      vocabulary (:mod:`operators.bpe`): the count a trainer's
      context-window budget actually sees. This is an Arrow-batched
      pandas UDF (a data-dependent merge loop has no Column form) —
      use it where token budgets matter (packing, chunking), not in
      relational hot paths.
    """
    if mode == "whitespace":
        return F.size(tokenize(text))
    if mode in ("regex", "regex_bpe"):
        return F.size(
            F.filter(
                F.regexp_extract_all(text, F.lit(_BPE_TOKEN_RE), 0),
                lambda x: x != "",
            )
        )
    if mode == "bpe":
        from serverless_data_lake_spark.operators.bpe import (
            bpe_token_count_udf,
        )

        return bpe_token_count_udf()(text)
    raise ValueError(f"unknown token mode: {mode}")


def _stopword_hits(tokens: Column, lang: str) -> Column:
    words = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(tokens), words))


def detect_language(text: Column) -> Column:
    """Best-scoring language by distinct-stopword hits; ``und`` when
    nothing matches. Deterministic tie-break by language code order
    (greatest hit count wins; earlier language wins ties via the
    ordered CASE)."""
    toks = tokenize(text)
    scores = {lang: _stopword_hits(toks, lang) for lang in _STOPWORDS}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # Build reversed so earlier langs take precedence in the CASE chain.
    for lang in reversed(list(_STOPWORDS)):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return expr


def quality_score(text: Column) -> Column:
    """Cheap [0,1] document quality heuristic:

    - length factor: saturating at 200 chars;
    - alpha ratio: letters+spaces / chars (penalizes symbol soup);
    - stopword presence: any-language distinct stopword hits per token
      (fluent prose has function words);
    - mean word length in a sane band (2.5–9).

    Equal-weight average of the four factors."""
    toks = tokenize(text)
    n_chars = F.length(text).cast("double")
    length_f = F.least(n_chars / F.lit(200.0), F.lit(1.0))
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z ]", "")).cast("double")
    alpha_f = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    hits = None
    for lang in _STOPWORDS:
        h = _stopword_hits(toks, lang)
        hits = h if hits is None else F.greatest(hits, h)
    n_toks = F.size(toks).cast("double")
    stop_f = F.when(n_toks > 0, F.least(hits.cast("double") * 4 / n_toks, F.lit(1.0))).otherwise(
        F.lit(0.0)
    )
    mean_w = F.when(n_toks > 0, (n_chars - n_toks + 1) / n_toks).otherwise(F.lit(0.0))
    word_f = F.when((mean_w >= 2.5) & (mean_w <= 9.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return (length_f + alpha_f + stop_f + word_f) / F.lit(4.0)


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
    token_mode: str = "whitespace",
):
    """Split documents into overlapping token-window chunks — the
    standard context-window prep for LLM training/embedding: chunk i
    covers tokens ``[i·step, i·step + chunk_tokens)`` with
    ``step = chunk_tokens − overlap``.

    ``token_mode="whitespace"`` (default): everything is in-row
    (token split → ``transform`` over chunk starts →
    ``posexplode``): zero shuffles, output row count =
    Σ ceil(max(len−overlap, 1)/step) — embarrassingly parallel at
    corpus scale. An empty/short document yields exactly one
    (possibly short) chunk, so no document silently disappears.

    ``token_mode="bpe"``: windows are REAL subword tokens against
    the shipped frozen vocabulary (:mod:`operators.bpe`) — the
    chunk a trainer's context budget actually sees. Runs as a
    ``mapInPandas`` Arrow kernel (a merge loop has no Column form);
    byte-level BPE decodes losslessly, so ``chunk_text`` is the
    exact text slice the window's tokens spell. Same output
    contract, zero shuffles, same per-doc chunk-count formula.

    Returns ``<id_col>, chunk_id, chunk_text, n_tokens``.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    if token_mode == "bpe":
        return _chunk_documents_bpe(
            df, id_col, text_col, chunk_tokens, overlap, step
        )
    if token_mode != "whitespace":
        raise ValueError(f"unknown token mode: {token_mode}")
    toks = F.filter(
        F.split(F.col(text_col), "\\s+"), lambda t: t != ""
    )
    base = df.select(F.col(id_col), toks.alias("__toks"))
    k = F.greatest(
        F.lit(1),
        F.ceil((F.size("__toks") - F.lit(overlap)) / F.lit(float(step))),
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.slice(F.col("__toks"), i * step + 1, chunk_tokens),
    )
    return base.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "__chunk"),
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join("__chunk", " ").alias("chunk_text"),
        F.size("__chunk").cast("bigint").alias("n_tokens"),
    )


def _chunk_documents_bpe(df, id_col, text_col, chunk_tokens, overlap, step):
    """BPE leg of :func:`chunk_documents`: encode → slide windows
    over token ids → decode each window. Arrow-batched; per-task
    memory is one batch of documents plus their id lists.

    Window decode uses :meth:`BpeTokenizer.decode_window`: base BPE
    tokens are single bytes, so a window edge can split a multi-byte
    UTF-8 character — the orphaned partial sequence (≤ 3 bytes per
    edge, whose remainder lives in the adjacent window) is TRIMMED
    rather than surfacing as U+FFFD. ``n_tokens`` still counts the
    full token window; ASCII text round-trips exactly."""
    import math

    id_field = df.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, "
        "chunk_id bigint, chunk_text string, n_tokens bigint"
    )

    def gen(batches):
        import pandas as pd

        from serverless_data_lake_spark.operators.bpe import (
            default_tokenizer,
        )

        tok = default_tokenizer()
        for pdf in batches:
            ids_out, cids, texts, sizes = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                ids = tok.encode(text or "")
                k = max(
                    1,
                    math.ceil(max(len(ids) - overlap, 1) / step),
                ) if len(ids) > overlap else 1
                for i in range(k):
                    window = ids[i * step : i * step + chunk_tokens]
                    ids_out.append(doc_id)
                    cids.append(i)
                    texts.append(tok.decode_window(window))
                    sizes.append(len(window))
            yield pd.DataFrame(
                {
                    id_col: ids_out,
                    "chunk_id": cids,
                    "chunk_text": texts,
                    "n_tokens": sizes,
                }
            )

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def repetition_stats(
    df,
    id_col: str,
    text_col: str,
    n: int = 2,
):
    """Gopher-style repetition quality signals, per document:

    - ``n_grams``        — total word n-grams (with repeats);
    - ``dup_gram_frac``  — 1 − distinct/total: the fraction of
      n-gram slots occupied by repeats (high → boilerplate, keyword
      stuffing, generation loops);
    - ``top_gram_frac``  — occurrences of the most frequent n-gram
      over total (high → a single repeated phrase dominates).

    Both signals are standard pre-training filters (Gopher §A1.1
    repetition heuristics, C4's repeated-phrase cleanup). Computed
    fully in-row: the top-gram count is a fold over distinct grams ×
    grams (O(d·t) per document — quadratic in *document* length,
    constant per corpus row, embarrassingly parallel; for very long
    documents chunk first with :func:`chunk_documents`).
    Zero-gram documents report 0 for both fractions.
    """
    base = df.select(
        F.col(id_col), repetition_gram_expr(F.col(text_col), n=n).alias("__g")
    )
    total, dup, top = repetition_columns(F.col("__g"))
    return base.select(
        F.col(id_col),
        total.alias("n_grams"),
        dup.alias("dup_gram_frac"),
        top.alias("top_gram_frac"),
    )


def repetition_gram_expr(text: Column, n: int = 2) -> Column:
    """The word n-gram array :func:`repetition_columns` consumes.
    STAGE IT IN ITS OWN PROJECTION (``df.select(...,
    expr.alias("__g"))``) before deriving the signals: the three
    signal expressions reference the gram array ~6 times and
    higher-order functions get no codegen subexpression elimination,
    so inlined they re-tokenize per reference — an r6 refactor that
    inlined exactly this measured the ``repetition_stats`` entry at
    32× its staged cost (0.35 s → 11.2 s at sf0.1; same trap the
    minhash signature stage documents)."""
    toks = F.filter(F.split(F.lower(text), "\\s+"), lambda t: t != "")
    if n <= 1:
        grams = toks
    else:
        # Documents shorter than n yield no grams (guarded:
        # sequence(0, -1) would descend and slice rejects start 0).
        grams = F.when(
            F.size(toks) < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        )
    return F.filter(grams, lambda g: g != "")


def repetition_columns(
    grams: Column,
) -> tuple[Column, Column, Column]:
    """``(n_grams, dup_gram_frac, top_gram_frac)`` over a STAGED
    gram-array column (see :func:`repetition_gram_expr` for why it
    must be pre-bound, not inlined)."""
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    top = F.array_max(
        F.transform(
            F.array_distinct(grams),
            lambda g: F.size(F.filter(grams, lambda x: x == g)),
        )
    )
    return (
        total.cast("bigint"),
        F.when(total == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - distinct / total
        ),
        F.when(total == 0, F.lit(0.0)).otherwise(top / total),
    )


# Conservative patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround — so the redaction is
# engine-portable and oracle-checkable.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+?[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
}
_PII_ORDER = ["email", "ip", "phone"]  # email first: '@' guards it;
# ip before phone: digits+dots would otherwise match the phone run.


def redact_pii(text: Column, kinds: list[str] | None = None) -> Column:
    """Replace emails / IPv4 addresses / phone-number runs with
    typed placeholder tokens — the scrubbing pass applied to corpus
    text before training or inspection. Pure ``regexp_replace``
    chain (JVM-side, order fixed and documented); patterns are
    deliberately conservative: false negatives over false positives,
    and portable across regex engines so the operation itself is
    oracle-checkable."""
    kinds = kinds or _PII_ORDER
    unknown = [k for k in kinds if k not in PII_PATTERNS]
    if unknown:
        raise ValueError(f"unknown PII kinds: {unknown}")
    out = text
    for k in _PII_ORDER:
        if k in kinds:
            pat, token = PII_PATTERNS[k]
            out = F.regexp_replace(out, pat, token)
    return out
