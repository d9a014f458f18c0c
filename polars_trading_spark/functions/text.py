"""Text-analysis operators over document tables.

All pure Column expressions built from built-in functions — no Python
UDFs anywhere, so the whole stage stays in codegen and scales linearly
with one parquet scan and zero shuffles.  Every construct here has an
exact ANSI-SQL twin used by the DuckDB oracles (kept in
``registry.py``); regex patterns are restricted to the syntax subset
that Java regex (Spark) and RE2 (DuckDB) evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_trading_spark._utils import col_or_lit

__all__ = [
    "normalize_text",
    "bpe_pair_counts",
    "bigram_logprob",
    "char_entropy",
    "pmi_cooccurrence",
    "tokens",
    "token_count",
    "portable_hash60",
    "doc_fingerprint",
    "word_ngrams",
    "stopword_ratio",
    "language_id",
    "cjk_ratio",
    "repetition_profile",
    "quality_score",
    "text_profile",
    "boilerplate_profile",
    "unigram_logprob",
    "STOPWORDS",
    "reading_ease",
    "ngram_novelty",
    "lexical_diversity",
    "encoding_quality",
    "code_detection",
    "CODE_SYMBOL_PATTERN",
    "CODE_INDENT_PATTERN",
    "CODE_SEMI_EOL_PATTERN",
]

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately small and disjoint-ish; ties resolve in the
# listed language order.  zh is detected before the stopword vote via a
# CJK-codepoint ratio (no tokenizer needed — Chinese has no spaces).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "un", "est", "pour", "dans", "que", "une"],
    "es": ["el", "los", "de", "y", "un", "es", "que", "en", "se", "del"],
}


def normalize_text(text) -> Column:
    """Lowercase, strip non-alphanumerics, collapse whitespace."""
    t = F.lower(col_or_lit(text))
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def tokens(text) -> Column:
    """Whitespace tokens of the normalized text (no empty tokens)."""
    return F.filter(F.split(normalize_text(text), " "), lambda x: x != "")


def token_count(text) -> Column:
    """Whitespace token count (the cheap 'how many words' measure)."""
    return F.size(tokens(text))


def char_entropy(chars: Column) -> Column:
    """Shannon entropy (nats) of a STAGED character-array column — the
    classic cheap gibberish/repetition signal: natural prose sits
    around 2.9-3.1 nats, single-character spam near 0, uniform random
    alphanumerics near ln(36) ≈ 3.58.

    ``chars`` MUST be a real (withColumn-staged) ``array<string>``
    column, e.g. ``F.filter(F.split(normalize_text(t), ""), c -> c !=
    "")`` staged first — expressions referenced inside higher-order
    lambdas re-evaluate PER ELEMENT (SCALING.md rules 7/15), so nesting
    the regex normalize here would multiply it by the alphabet size.

    Pure higher-order-function Column: the normalized alphabet is at
    most 37 symbols (a-z, 0-9, space), so per-row cost is
    O(37 · n_chars) with NO explode, NO shuffle, no Python.  The
    distinct alphabet is sorted before the fold so the summation order
    — and therefore the last ulp — is identical in any engine replaying
    the same expression.  Empty arrays yield null.
    """
    n = F.size(chars)
    alphabet = F.array_sort(F.array_distinct(chars))
    p = F.transform(
        alphabet,
        (lambda cs: lambda a: F.size(F.filter(cs, lambda x: x == a)) / F.size(cs))(chars),
    )
    h = -F.aggregate(p, F.lit(0.0), lambda acc, x: acc + x * F.log(x))
    return F.when(n > 0, h)


def pmi_cooccurrence(
    df: DataFrame,
    *,
    window: int = 4,
    min_pair_count: int = 5,
    top_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring within
    ``window`` tokens — the classic word-association / collocation
    miner (phrase detection, tokenizer-merge candidates, embedding
    evaluation probes all start here).

    For every ordered position pair (i, i+d), 1 <= d <= window, the
    UNORDERED token pair (min, max) counts once.  With ``N`` total
    windowed pair observations and marginal counts ``c_a``/``c_b``
    (times a token participates in any pair),
    ``pmi = ln(c_ab * N / (c_a * c_b))``.  Pairs below
    ``min_pair_count`` are pruned before scoring; output is the
    ``top_k`` pairs by (pmi desc, pair asc) with rank — ties
    deterministic.

    100 TB shape: one explode with BOUNDED fan-out (n_tokens * window
    per doc), one pair-count hash aggregate with map-side combine,
    marginals as a second aggregate off the SAME pair table (not the
    corpus), one broadcast totals row, distributed
    TakeOrderedAndProject for the top-k.  No self-joins, no Python.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    # (i, i+d) pairs via flatten(transform(d -> zip(toks, shift_d(toks))))
    shifted = F.transform(
        F.sequence(F.lit(1), F.lit(int(window))),
        (
            lambda ts: lambda d: F.zip_with(
                F.slice(ts, 1, F.greatest(F.size(ts) - d, F.lit(0))),
                F.slice(ts, d + 1, F.greatest(F.size(ts) - d, F.lit(0))),
                lambda a, b: F.struct(
                    F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
                ),
            )
        )(F.col("__toks")),
    )
    ex = (
        toks.where(n >= 2)
        .select(F.explode(F.flatten(shifted)).alias("__p"))
        .select(F.col("__p.a").alias("tok_a"), F.col("__p.b").alias("tok_b"))
    )
    pairs = ex.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("c_ab"))
    # STAGED (round 14, guide §5 caching + the §35 failure mode): the
    # pair table has FOUR consumers (both marginal arms, the totals
    # scalar, the scored join) — unstaged, the windowed-pair explode +
    # aggregate re-executed once per consumer (4 duplicate ~2s stages
    # in the profile).  The cache is the bounded pair aggregate, never
    # the corpus-sized explode; eager so the four AQE-parallel
    # consumers read one materialization instead of racing.
    from polars_trading_spark._utils import persist_tracked

    pairs = persist_tracked(pairs, eager=True)

    # Marginals and totals from the pair table itself (a token's count =
    # every pair slot it fills, both columns).
    m = (
        pairs.select(F.col("tok_a").alias("tok"), "c_ab")
        .unionAll(pairs.select(F.col("tok_b").alias("tok"), "c_ab"))
        .groupBy("tok")
        .agg(F.sum("c_ab").alias("c_tok"))
    )
    totals = pairs.agg(F.sum("c_ab").cast("double").alias("__N"))

    scored = (
        pairs.where(F.col("c_ab") >= int(min_pair_count))
        .join(m.select(F.col("tok").alias("tok_a"), F.col("c_tok").alias("c_a")), "tok_a")
        .join(m.select(F.col("tok").alias("tok_b"), F.col("c_tok").alias("c_b")), "tok_b")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.log(
                F.col("c_ab").cast("double")
                * F.col("__N")
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
            ),
        )
    )
    order = [F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b")]
    top = scored.orderBy(*order).limit(int(top_k))
    w = Window.orderBy(*order)
    return top.select(
        "tok_a",
        "tok_b",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        "pmi",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def portable_hash60(col) -> Column:
    """Deterministic 60-bit hash identical across Spark and DuckDB:
    the first 15 hex digits of md5, as a signed long."""
    return F.conv(F.substring(F.md5(col_or_lit(col)), 1, 15), 16, 10).cast("long")


def doc_fingerprint(text) -> Column:
    """Content fingerprint: md5 of the normalized text.  Two documents
    with the same fingerprint are exact duplicates modulo case /
    punctuation / whitespace."""
    return F.md5(normalize_text(text))


def word_ngrams_from(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from a token array.

    Built as ``zip_with`` over n shifted slices of the token array
    rather than an index-transform that slices inside the lambda:
    higher-order functions run interpreted (no codegen, no CSE), and
    any non-lambda expression referenced *inside* a lambda body is
    re-evaluated per element — an inlined tokenizer there turns a
    linear scan into O(tokens²) regex work (measured 30s → 2s on 5000
    docs).  Here every slice evaluates once per row and the lambdas
    touch only their own variables.
    """
    from functools import reduce

    m = F.size(toks) - (n - 1)
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    joined = reduce(
        lambda a, b: F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y)), parts
    )
    return F.array_distinct(
        F.when(m > 0, joined).otherwise(F.array().cast("array<string>"))
    )


def word_ngrams(text, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text.  Prefer
    ``word_ngrams_from`` over a materialized token column in hot paths
    (see its docstring)."""
    return word_ngrams_from(tokens(text), n)


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_ratio(text, lang: str = "en") -> Column:
    toks = tokens(text)
    return F.when(
        F.size(toks) > 0, _stopword_hits(toks, STOPWORDS[lang]) / F.size(toks)
    ).otherwise(0.0)


def cjk_ratio(text) -> Column:
    """Fraction of characters in the CJK Unified Ideographs block
    (U+4E00-U+9FFF); 0.0 for empty text.  BMP-only, so Spark's UTF-16
    and DuckDB's codepoint length semantics agree."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    han = n - F.length(F.regexp_replace(t, r"[\x{4E00}-\x{9FFF}]", ""))
    return F.when(n > 0, han / n).otherwise(0.0)


_CJK_THRESHOLD = 0.3


def language_id(text) -> Column:
    """Language guess over {zh, en, de, fr, es}: zh when the CJK
    codepoint ratio reaches 0.3 (Chinese has no spaces, so the stopword
    tokenizer never sees it), else a stopword vote; 'unknown' when no
    stopword hits at all.  Ties resolve in STOPWORDS key order."""
    toks = tokens(text)
    hits = {lang: _stopword_hits(toks, words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*hits.values())
    expr = F.when(cjk_ratio(text) >= _CJK_THRESHOLD, "zh").when(best == 0, "unknown")
    for lang in STOPWORDS:  # first max wins — same order as the SQL CASE
        expr = expr.when(hits[lang] == best, lang)
    return expr


def quality_score(text) -> Column:
    """Heuristic document quality in [0, 1]:

    0.3·length_score + 0.3·word_shape_score + 0.3·stopword_score
    + 0.1·(1 − punctuation_penalty)

    where length_score saturates at 100 tokens, word_shape peaks at mean
    token length 5, stopword_score saturates at a 40% English-stopword
    ratio, and the punctuation penalty saturates at 20% non-alphanumeric
    characters.  Multi-term float sum → callers round for cross-engine
    comparison.
    """
    raw = col_or_lit(text)
    toks = tokens(text)
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_len = F.when(n > 0, total_len / n).otherwise(0.0)
    sw = stopword_ratio(text, "en")
    raw_len = F.length(raw)
    non_alnum = raw_len - F.length(F.regexp_replace(F.lower(raw), "[^a-z0-9 ]", ""))
    punct_ratio = F.when(raw_len > 0, non_alnum / raw_len).otherwise(0.0)

    length_score = F.least(n / F.lit(100.0), F.lit(1.0))
    shape_score = F.greatest(F.lit(0.0), 1 - F.abs(mean_len - 5.0) / 5.0)
    stop_score = F.least(sw / F.lit(0.4), F.lit(1.0))
    punct_score = 1 - F.least(punct_ratio / F.lit(0.2), F.lit(1.0))
    return (
        0.3 * length_score + 0.3 * shape_score + 0.3 * stop_score + 0.1 * punct_score
    )


def text_profile(
    df: DataFrame,
    *,
    text_col: str = "text",
    keep: tuple[str, ...] = ("doc_id", "lang"),
) -> DataFrame:
    """All five text measures in one pass with shared normalization.

    The scalar functions above are composable but each re-derives
    ``tokens(text)`` — and higher-order filters run interpreted with no
    common-subexpression elimination, so a select computing all five
    measures runs the regex tokenizer ~10× per row (measured 4.7s vs
    0.8s on 5k docs).  Here the normalized text and token array are
    staged as real columns in intermediate projections; CollapseProject
    keeps multi-referenced non-trivial aliases materialized, so the
    tokenizer runs once per row and every measure reads the array.
    Still zero shuffles, one scan.

    Output: ``keep`` + (n_tokens, fingerprint, lang_guess,
    stopword_ratio, quality_score) — unrounded; callers round for
    cross-engine float comparison.
    """
    staged, exprs = _profile_staged(df, text_col=text_col, keep=keep)
    return staged.select(
        *keep,
        exprs["n_tokens"].alias("n_tokens"),
        exprs["fingerprint"].alias("fingerprint"),
        exprs["lang_guess"].alias("lang_guess"),
        exprs["stopword_ratio"].alias("stopword_ratio"),
        exprs["quality_score"].alias("quality_score"),
    )


def _profile_staged(
    df: DataFrame,
    *,
    text_col: str = "text",
    keep: tuple[str, ...] = ("doc_id", "lang"),
):
    """The shared staging behind ``text_profile``: the staged frame
    (``keep`` + text + ``__norm`` + ``__toks`` + stopword hits +
    ``__total_len``) and the five measure expressions reading it.

    Split out in round 15 so ``quality_classifier`` can derive its
    label from the IDENTICAL ``quality_score`` expression while keeping
    ``__toks`` in the same projection — one tokenizer pass feeds both
    the label and the hashed-bucket features, join-free.  The
    expression trees are shared, so ``text_profile``'s plan (and every
    committed value) is unchanged.
    """
    raw = F.col(text_col)
    staged = df.select(*keep, text_col, normalize_text(raw).alias("__norm"))
    staged = staged.select(
        "*", F.filter(F.split(F.col("__norm"), " "), lambda x: x != "").alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    # Round 14 (guide §4.1/§1.2): the per-language stopword hits and the
    # token-length fold are interpreted HOFs too — referenced from
    # ``best``, the language CASE chain, the stopword ratio and the
    # shape score, each reference re-ran the array scan (~4x the
    # one-pass cost measured at sf0.1).  Stage them as real columns in
    # one more projection, exactly like ``__toks``; every downstream
    # expression is unchanged, it just reads the staged column.
    staged = staged.select(
        "*",
        *[
            _stopword_hits(toks, words).alias(f"__hit_{lang}")
            for lang, words in STOPWORDS.items()
        ],
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).alias(
            "__total_len"
        ),
    )
    hits = {lang: F.col(f"__hit_{lang}") for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    lang_expr = F.when(cjk_ratio(raw) >= _CJK_THRESHOLD, "zh").when(best == 0, "unknown")
    for lang in STOPWORDS:  # first max wins — same order as the SQL CASE
        lang_expr = lang_expr.when(hits[lang] == best, lang)
    sw = F.when(n > 0, hits["en"] / n).otherwise(0.0)

    total_len = F.col("__total_len")
    mean_len = F.when(n > 0, total_len / n).otherwise(0.0)
    raw_len = F.length(raw)
    non_alnum = raw_len - F.length(F.regexp_replace(F.lower(raw), "[^a-z0-9 ]", ""))
    punct_ratio = F.when(raw_len > 0, non_alnum / raw_len).otherwise(0.0)
    length_score = F.least(n / F.lit(100.0), F.lit(1.0))
    shape_score = F.greatest(F.lit(0.0), 1 - F.abs(mean_len - 5.0) / 5.0)
    stop_score = F.least(sw / F.lit(0.4), F.lit(1.0))
    punct_score = 1 - F.least(punct_ratio / F.lit(0.2), F.lit(1.0))
    quality = 0.3 * length_score + 0.3 * shape_score + 0.3 * stop_score + 0.1 * punct_score

    return staged, {
        "n_tokens": n,
        "fingerprint": F.md5("__norm"),
        "lang_guess": lang_expr,
        "stopword_ratio": sw,
        "quality_score": quality,
    }


def _ngram_seq(toks: Column, n: int) -> Column:
    """NON-distinct n-gram sequence (one entry per position) — the
    multiplicity-preserving sibling of ``word_ngrams_from``, same
    zip_with slicing so the lambdas never re-evaluate the tokenizer."""
    from functools import reduce

    m = F.size(toks) - (n - 1)
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    joined = reduce(
        lambda a, b: F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y)), parts
    )
    return F.when(m > 0, joined).otherwise(F.array().cast("array<string>"))


def repetition_profile(
    df: DataFrame,
    *,
    text_col: str = "text",
    keep: tuple[str, ...] = ("doc_id", "lang"),
    ngram_sizes: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality rules —
    Rae et al. 2021 filter training docs whose duplicate-n-gram fraction
    is high; boilerplate and templated spam light these up).

    Per doc: ``rep_{n}gram_frac`` = fraction of n-gram positions whose
    gram also occurs elsewhere in the doc (1 - distinct/total), for each
    ``n`` in ``ngram_sizes``; ``dup_sentence_frac`` = same over
    ``[.!?]``-split sentences of the raw text.

    Everything is higher-order-function array math on the per-row token
    array — ZERO shuffles, one scan, no UDFs: at 100 TB this is a map
    stage that costs what the tokenizer costs.  (The Gopher "top n-gram
    character fraction" rules need a per-gram mode — that is the
    shuffle-bearing variant via explode + groupBy; these duplicate
    fractions are the map-side 90%.)
    """
    raw = F.col(text_col)
    staged = df.select(*keep, text_col, normalize_text(raw).alias("__norm"))
    staged = staged.select(
        "*", F.filter(F.split(F.col("__norm"), " "), lambda x: x != "").alias("__toks")
    )
    toks = F.col("__toks")

    cols = list(keep)
    out_cols = []
    for n in ngram_sizes:
        seq = _ngram_seq(toks, n)
        total = F.size(seq)
        frac = F.when(total > 0, 1.0 - F.size(F.array_distinct(seq)) / total).otherwise(0.0)
        out_cols.append(frac.alias(f"rep_{n}gram_frac"))

    sents = F.filter(
        F.transform(F.split(raw, "[.!?]+"), lambda x: F.trim(x)), lambda x: x != ""
    )
    n_sent = F.size(sents)
    dup_sent = F.when(
        n_sent > 0, 1.0 - F.size(F.array_distinct(sents)) / n_sent
    ).otherwise(0.0)
    return staged.select(*cols, *out_cols, dup_sent.alias("dup_sentence_frac"))


def boilerplate_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_sentences: int = 3,
) -> DataFrame:
    """C4/Gopher-style boilerplate flags per document (Raffel et al.
    2020 §2.2; Rae et al. 2021 A.1.1) — the line/sentence-shape rules a
    web-scale cleanse applies before any model-based filter.

    All pure Column expressions (split + higher-order filters), one
    scan, zero shuffles.  Returns ``id_col`` plus:

    * ``n_lines`` — non-blank lines;
    * ``end_punct_frac`` — fraction of lines ending in ``. ! ? "`` (C4
      keeps only such lines); null when there are no lines;
    * ``bullet_frac`` — fraction of lines starting with a bullet
      (``- * •``), Gopher drops docs with > 90%;
    * ``mean_words_per_line`` — whitespace tokens per non-blank line;
    * ``n_sentences`` — non-empty ``[.!?]+``-delimited spans;
    * ``has_lorem`` / ``has_curly`` / ``has_javascript`` — C4's page
      artifacts: placeholder text, code braces, script boilerplate;
    * ``c4_keep`` — the document-level gate: at least
      ``min_sentences`` sentences and none of the three artifacts.
    """
    raw = F.col(text_col)
    # Stage the line array: HOF lambdas run interpreted with no CSE, so
    # reusing the split expression would re-split once per measure.
    df = df.select(
        F.col(id_col),
        raw,
        F.filter(F.split(raw, "\n"), lambda x: F.trim(x) != "").alias("__lines"),
    )
    lines = F.col("__lines")
    n_lines = F.size(lines)
    ends = F.size(
        F.filter(lines, lambda x: F.right(F.trim(x), F.lit(1)).isin(".", "!", "?", '"'))
    )
    bullets = F.size(
        F.filter(lines, lambda x: F.left(F.ltrim(x), F.lit(1)).isin("-", "*", "•"))
    )
    n_sent = F.size(F.filter(F.split(raw, "[.!?]+"), lambda s: F.trim(s) != ""))
    n_tok = token_count(raw)
    low = F.lower(raw)
    has_lorem = low.contains("lorem ipsum")
    has_curly = raw.contains("{")
    has_js = low.contains("javascript")
    keep = (
        (n_sent >= F.lit(min_sentences)) & ~has_lorem & ~has_curly & ~has_js
    )
    return df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        F.when(n_lines > 0, ends / n_lines).alias("end_punct_frac"),
        F.when(n_lines > 0, bullets / n_lines).alias("bullet_frac"),
        F.when(n_lines > 0, n_tok / n_lines).alias("mean_words_per_line"),
        n_sent.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_curly.alias("has_curly"),
        has_js.alias("has_javascript"),
        keep.alias("c4_keep"),
    )


def unigram_logprob(
    df: DataFrame,
    *,
    smoothing_k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    add-k-smoothed unigram model — the cheap stand-in for the CCNet-style
    LM-perplexity quality signal (Wenzek et al. 2020): documents whose
    token distribution diverges from the corpus (gibberish, boilerplate,
    wrong language) score a high perplexity and can be bucketed/filtered
    on it.

    Model: ``p(t) = (c_t + k) / (N + k * V)`` with corpus token count
    ``c_t``, total tokens ``N`` and vocabulary size ``V``.

    Scale shape: the tokenizer explode runs ONCE into a persisted
    per-(doc, token) count frame — round 4 measured the regex tokenizer
    re-running per consumer (model, totals, scoring) and going
    superlinear at the 320k-doc probe (SCALING.md §14).  The model is a
    second aggregate over that frame; scoring joins the (doc, token)
    counts (not every token instance) back on the token key and
    finishes with a weighted per-document aggregate — sum(c*lp)/sum(c)
    is the same mean over token instances, with the join input shrunk
    to distinct pairs.  No Python anywhere.

    Returns ``id_col, n_tokens, mean_logprob, ppl`` (``ppl =
    exp(-mean_logprob)``; empty documents get nulls).
    """
    if smoothing_k <= 0:
        raise ValueError(f"smoothing_k must be > 0, got {smoothing_k}")

    from polars_trading_spark._utils import persist_tracked

    k = float(smoothing_k)
    ex = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    # Lazy persist: building the frame must not run a job.
    dtc = persist_tracked(ex.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("__cdt")))
    model = dtc.groupBy("tok").agg(F.sum("__cdt").alias("c"))
    # One-row totals, broadcast-crossJoined so no job runs at plan build
    # and the denominator stays inside the lazy plan.
    totals = model.agg(
        F.sum("c").cast("double").alias("__N"), F.count(F.lit(1)).cast("double").alias("__V")
    )
    scored = (
        dtc.join(model, "tok")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lp",
            F.log((F.col("c") + F.lit(k)) / (F.col("__N") + F.lit(k) * F.col("__V"))),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__cdt").cast("int").alias("n_tokens"),
        (F.sum(F.col("__cdt") * F.col("lp")) / F.sum("__cdt")).alias("mean_logprob"),
    )
    out = df.select(id_col).join(per_doc, id_col, "left")
    return out.select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "mean_logprob",
        F.exp(-F.col("mean_logprob")).alias("ppl"),
    )


def bpe_pair_counts(
    df: DataFrame,
    *,
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Adjacent character-pair frequencies within words — the inner-loop
    statistic of byte-pair-encoding tokenizer training (Sennrich et al.
    2016: each BPE merge round picks the most frequent adjacent symbol
    pair; this operator is that round's global count, distributed).

    Output: ``(pair, count, rank)`` — the ``top_k`` most frequent
    2-character sequences inside normalized words, rank 1-based, ties
    broken by pair text ascending so the cutoff is deterministic.

    100 TB shape: explode words → explode in-word pairs → ONE hash
    aggregate with map-side partial combine (the pair alphabet is tiny,
    so the shuffle carries at most |alphabet|² rows per task) → a
    distributed TakeOrderedAndProject for the top-k.  No sort of the
    full pair table, no driver-side counting.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")

    w = F.explode(tokens(F.col(text_col))).alias("__w")
    words = df.select(w)
    chars = F.split(F.col("__w"), "")
    n = F.size(chars)
    pairs = F.zip_with(
        F.slice(chars, 1, n - 1),
        F.slice(chars, 2, n - 1),
        lambda a, b: F.concat(a, b),
    )
    exploded = words.where(n >= 2).select(F.explode(pairs).alias("pair"))
    counts = exploded.groupBy("pair").agg(F.count(F.lit(1)).alias("count"))
    order = [F.desc("count"), F.asc("pair")]
    top = counts.orderBy(*order).limit(top_k)
    from pyspark.sql import Window

    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("int")
    )


def bigram_logprob(
    df: DataFrame,
    *,
    smoothing_k: float = 0.5,
    interpolation: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean log-probability under an interpolated bigram
    model trained on the corpus itself — one rung up the CCNet/KenLM
    ladder from ``unigram_logprob``: bigram perplexity additionally
    punishes scrambled word ORDER, not just off-distribution vocabulary.

    Model: ``p(t|s) = λ·p_bi(t|s) + (1−λ)·p_uni(t)`` with
    ``p_bi = (c(s,t)+k)/(c(s)+k·V)`` and add-k unigram ``p_uni``;
    the context count ``c(s)`` is the unigram count (the standard
    corpus-LM approximation — exact context counts differ only by
    end-of-document tokens).  A document's first token scores with the
    unigram term alone.

    Scale shape: (prev, cur) pairs come from a shifted ``zip_with``
    over the staged token array (no window, no Python) into a PERSISTED
    exploded frame — round 4's plan re-ran the tokenizer for each of
    the model's three consumers and went superlinear at the 320k-doc
    probe (SCALING.md §14).  The per-pair log-probability depends only
    on (prev, cur), so scoring first folds the model's three lookups
    into ONE small ``(prev, cur) -> lp`` table (distinct corpus bigrams
    plus a null-prev unigram row per vocabulary entry), then hits the
    big exploded frame with a single null-safe equi-join (AQE
    broadcasts it for bounded vocabularies) and one per-document
    aggregate.  Measured at 320k docs: 92s (three big joins) -> ~30s.

    Returns ``id_col, n_tokens, mean_logprob, ppl``.
    """
    if smoothing_k <= 0:
        raise ValueError(f"smoothing_k must be > 0, got {smoothing_k}")
    if not (0.0 <= interpolation <= 1.0):
        raise ValueError(f"interpolation must be in [0, 1], got {interpolation}")

    from polars_trading_spark._utils import persist_tracked

    k, lam = float(smoothing_k), float(interpolation)
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    prevs = F.concat(
        F.array(F.lit(None).cast("string")), F.slice("__toks", 1, n - 1)
    )
    pairs = F.zip_with(prevs, F.col("__toks"), lambda p, c: F.struct(p.alias("prev"), c.alias("cur")))
    ex = base.where(n > 0).select(id_col, F.explode(pairs).alias("__pc"))
    # eager: three AQE-parallel consumers (uni, bi, the scoring join)
    # raced to materialize the tokenize+explode chain (guide §5.3)
    ex = persist_tracked(
        ex.select(id_col, F.col("__pc.prev").alias("prev"), F.col("__pc.cur").alias("cur")),
        eager=True,
    )

    uni = ex.groupBy("cur").agg(F.count(F.lit(1)).alias("c_uni"))
    bi = (
        ex.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c_bi"))
    )
    totals = uni.agg(
        F.sum("c_uni").cast("double").alias("__N"),
        F.count(F.lit(1)).cast("double").alias("__V"),
    )

    # Small (prev, cur) -> lp table: every observed bigram scored with
    # the interpolated model, plus one null-prev row per vocab entry for
    # document-initial tokens (unigram term alone).
    ctx = uni.select(F.col("cur").alias("prev"), F.col("c_uni").alias("c_ctx"))
    p_uni = (F.col("c_uni") + k) / (F.col("__N") + k * F.col("__V"))
    p_bi = (F.col("c_bi") + k) / (F.col("c_ctx") + k * F.col("__V"))
    bigram_lp = (
        bi.join(uni, "cur")
        .join(ctx, "prev")
        .crossJoin(F.broadcast(totals))
        .select("prev", "cur", F.log(lam * p_bi + (1 - lam) * p_uni).alias("__lp"))
    )
    first_lp = uni.crossJoin(F.broadcast(totals)).select(
        F.lit(None).cast("string").alias("prev"),
        F.col("cur"),
        F.log(p_uni).alias("__lp"),
    )
    pair_lp = bigram_lp.unionByName(first_lp)

    # SHUFFLE_HASH on both corpus-sized joins: the planner's default is
    # sort-merge once pair_lp outgrows the broadcast threshold, and
    # sorting the token-count-sized exploded frame is the superlinear
    # tail (measured 45s -> see SCALING.md §30; the hash build side is
    # pairs/partitions rows — bounded at any corpus scale).
    scored = ex.join(
        pair_lp.hint("shuffle_hash"),
        ex["prev"].eqNullSafe(pair_lp["prev"]) & (ex["cur"] == pair_lp["cur"]),
    ).select(ex[id_col].alias(id_col), "__lp")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.avg("__lp").alias("mean_logprob"),
    )
    out = df.select(id_col).join(per_doc.hint("shuffle_hash"), id_col, "left")
    return out.select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "mean_logprob",
        F.exp(-F.col("mean_logprob")).alias("ppl"),
    )


def reading_ease(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease score per document (Flesch 1948) — the
    classic fluency/complexity gate next to the stopword and
    repetition profiles:

        206.835 - 1.015 * (words / sentences)
                - 84.6  * (syllables / words)

    Sentences are non-empty ``[.!?]+`` segments of the RAW text
    (floored at 1 so unterminated fragments still score); words are
    the shared normalizing tokenizer's tokens; syllables use the
    standard vowel-group heuristic — count of ``[aeiouy]+`` runs,
    minus one silent final 'e' (length > 2, more than one group),
    floored at 1 per word.  Vowel-free tokens (numbers) count one
    syllable.

    Distributed shape: everything is per-row HOF arithmetic over a
    STAGED token array (rule 7/15: the tokenizer materializes once,
    the per-token lambda touches only its own element) — zero
    shuffles, zero joins, zero Python; counts are integers, so the
    score is engine-exact.  Output: ``id_col``, ``n_words``,
    ``n_sentences``, ``n_syllables``, ``flesch`` (null for wordless
    docs).
    """
    toks = tokens(F.col(text_col))
    sents = F.size(
        F.filter(
            F.split(F.col(text_col), r"[.!?]+"), lambda s: F.trim(s) != ""
        )
    )

    def syl(t):
        groups = F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0))
        silent = F.when(
            t.endswith("e") & (F.length(t) > 2) & (groups > 1), F.lit(1)
        ).otherwise(F.lit(0))
        return F.greatest(F.lit(1), groups - silent)

    staged = (
        df.select(id_col, F.col(text_col), toks.alias("__toks"))
        .withColumn("__n_words", F.size("__toks").cast("long"))
        .withColumn("__n_sents", F.greatest(F.lit(1), sents).cast("long"))
        .withColumn(
            "__n_syl",
            F.aggregate(
                F.transform(F.col("__toks"), syl),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("long"),
        )
    )
    w = F.col("__n_words").cast("double")
    s = F.col("__n_sents").cast("double")
    y = F.col("__n_syl").cast("double")
    flesch = F.when(
        F.col("__n_words") > 0,
        F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w),
    )
    return staged.select(
        id_col,
        F.col("__n_words").alias("n_words"),
        F.col("__n_sents").alias("n_sentences"),
        F.col("__n_syl").alias("n_syllables"),
        flesch.alias("flesch"),
    )


def ngram_novelty(
    df: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word n-grams that appear in NO other document.

    The corpus-level complement of the dedup family — low novelty
    flags boilerplate/template documents even when no single pair
    crosses a near-dup threshold, and high novelty is the standard
    "keep" signal in quality-stratified sampling.  Exactly
    self-excluding: a gram counts as novel iff its document frequency
    is 1 (it cannot be in any other document).

    Output: ``id_col``, ``n_grams`` (distinct n-grams), ``n_novel``,
    ``novelty`` (null for docs with no n-gram, i.e. < n tokens).

    Shape: ONE distinct (doc, gram) explode → document frequency as
    ``count(*) over (partition by gram)`` riding the same frame → per-doc
    integer counts.  The window form (rather than a doc-frequency
    aggregate joined back) matters twice at scale: the corpus-sized
    tokenizer explode runs ONCE instead of once per consumer, and the
    gram-keyed window replaces an aggregate + equi-join (two shuffles on
    the gram key) with a single exchange.  All counts integer, the ratio
    exact — engine-independent.  A left join against the input preserves
    short documents.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    grams = word_ngrams(F.col(text_col), n)
    dg = df.select(id_col, F.explode(grams).alias("__g"))
    w = Window.partitionBy("__g")
    per = (
        dg.withColumn("__df", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
            ).alias("novelty"),
        )
    )


def lexical_diversity(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexical-diversity profile per document: type-token ratio, hapax
    ratio and Yule's K — the standard vocabulary-richness trio used to
    flag template spam (low TTR, huge K) and keyboard-mash noise (TTR
    near 1, K near 0) in pre-training corpora (Yule 1944; Tweedie &
    Baayen 1998).

    With ``N`` whitespace tokens of the normalized text, ``V`` distinct
    types, ``V1`` types occurring exactly once and ``S2 = sum over
    types of count^2``:

    * ``ttr = V / N``
    * ``hapax_ratio = V1 / V``
    * ``yule_k = 1e4 * (S2 - N) / N^2`` (0 when every token is unique,
      ~1e4/V for a V-symbol uniform stream, huge for one repeated word)

    Documents with zero tokens keep their row with null metrics.

    Scale/determinism shape: one ``explode_outer`` into a (doc, token)
    hash aggregate (map-side combine absorbs the fan-out; zero-token
    documents keep a null-token row, so there is NO join-back and no
    second corpus scan) and one doc-keyed reduce — no per-row O(V x N)
    higher-order scans, no windows, no Python.  Every aggregate is an
    INTEGER sum, so the only floats are final single divisions:
    bit-identical on any engine.
    """
    toks = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("__t")
    )
    per_type = toks.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__c"))
    real = F.col("__t").isNotNull()
    agg = per_type.groupBy(id_col).agg(
        F.sum(F.when(real, F.col("__c")).otherwise(0)).cast("long").alias("n_tokens"),
        F.sum(F.when(real, 1).otherwise(0)).cast("long").alias("n_types"),
        F.sum(F.when(real & (F.col("__c") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.sum(F.when(real, F.col("__c") * F.col("__c")).otherwise(0))
        .cast("long")
        .alias("__s2"),
    )
    n = F.col("n_tokens").cast("double")
    v = F.col("n_types").cast("double")
    return agg.select(
        id_col,
        "n_tokens",
        "n_types",
        "n_hapax",
        F.when(F.col("n_tokens") > 0, v / n).alias("ttr"),
        F.when(F.col("n_types") > 0, F.col("n_hapax").cast("double") / v).alias(
            "hapax_ratio"
        ),
        F.when(
            F.col("n_tokens") > 0,
            F.lit(1e4) * (F.col("__s2") - F.col("n_tokens")).cast("double") / (n * n),
        ).alias("yule_k"),
    )


# Mojibake "leader" characters: the UTF-8 lead bytes C3/C2/E2/EF as they
# appear when UTF-8 text is mis-decoded through Latin-1/CP1252 ("Ã©",
# "â€™", "ï»¿", ...).  A high density of these in supposedly-clean text
# is the classic double-encoding fingerprint.
_MOJIBAKE_LEADERS = "ÃÂâï"


def encoding_quality(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    control_pattern: str = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]",
) -> DataFrame:
    """Byte-sanity / mojibake profile per document — the cheap
    encoding-quality gate a crawl pipeline runs before any NLP: count
    U+FFFD replacement characters (lossy decode already happened),
    C0/C1-style control characters (binary junk pasted into text), the
    printable-ASCII ratio, and the density of classic UTF-8-as-Latin-1
    mojibake lead characters.

    Output: ``id_col, n_chars, n_replacement, n_control,
    mojibake_leads, ascii_ratio, flagged`` where ``flagged`` is true
    when any replacement/control char appears or mojibake leads exceed
    0.5% of characters.  Empty documents yield 0 counts, null ratio,
    false flag.

    Scale/determinism shape: pure built-in Column expressions (length /
    regexp_replace difference counts) — zero shuffles, zero Python, one
    codegen stage over the scan; counts are integers and the only
    float is one final division.  The regexes stay in the syntax subset
    Java regex and RE2 evaluate identically.
    """
    t = F.col(text_col)
    n = F.length(t)
    repl = n - F.length(F.regexp_replace(t, "�", ""))
    ctrl = n - F.length(F.regexp_replace(t, control_pattern, ""))
    moji = n - F.length(F.regexp_replace(t, f"[{_MOJIBAKE_LEADERS}]", ""))
    ascii_keep = F.length(F.regexp_replace(t, "[^ -~\\t\\n\\r]", ""))
    staged = df.select(
        F.col(id_col),
        F.coalesce(n, F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(repl, F.lit(0)).cast("long").alias("n_replacement"),
        F.coalesce(ctrl, F.lit(0)).cast("long").alias("n_control"),
        F.coalesce(moji, F.lit(0)).cast("long").alias("mojibake_leads"),
        F.coalesce(ascii_keep, F.lit(0)).cast("long").alias("__ascii"),
    )
    nn = F.col("n_chars").cast("double")
    return staged.select(
        id_col,
        "n_chars",
        "n_replacement",
        "n_control",
        "mojibake_leads",
        F.when(F.col("n_chars") > 0, F.col("__ascii").cast("double") / nn).alias(
            "ascii_ratio"
        ),
        (
            (F.col("n_replacement") > 0)
            | (F.col("n_control") > 0)
            | (
                (F.col("n_chars") > 0)
                & (F.col("mojibake_leads").cast("double") > F.lit(0.005) * nn)
            )
        ).alias("flagged"),
    )


# Shared engine-portable regexes for code detection (Java regex and RE2
# evaluate this subset identically; \r is folded into the EOL class so
# CRLF corpora count the same on both).
CODE_SYMBOL_PATTERN = r"[{}()\[\];=<>]"
CODE_INDENT_PATTERN = r"(?m)^[ \t]"
CODE_SEMI_EOL_PATTERN = r"(?m);[ \t\r]*$"


def code_detection(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    symbol_threshold: float = 0.03,
    indent_threshold: float = 0.15,
    semi_threshold: float = 0.10,
) -> DataFrame:
    """Code-likeness profile per document — the cheap structural gate a
    pre-training pipeline uses to route source code away from the prose
    filters (quality scoring, language ID and perplexity models all
    misfire on code): density of code punctuation ``{}()[];=<>``,
    fraction of indented lines, fraction of lines ending in ``;``.

    ``is_code`` fires when the symbol density clears
    ``symbol_threshold`` AND either structural line signal clears its
    threshold — braces alone also appear in prose ("(see above)"), the
    conjunction is what separates code blocks.

    Output: ``id_col, n_chars, n_lines, symbol_chars, indent_lines,
    semi_lines, symbol_ratio, indent_ratio, semi_ratio, is_code``
    (ratios null for empty documents, ``is_code`` false).

    Scale/determinism shape: pure built-in Column expressions (length
    differences and ``regexp_extract_all`` sizes) — zero shuffles, zero
    Python, one codegen stage over the scan; counts are integers and
    ratios are final single divisions.
    """
    t = F.col(text_col)
    n = F.coalesce(F.length(t), F.lit(0)).cast("long")
    nl = F.coalesce(
        F.length(t) - F.length(F.regexp_replace(t, r"\n", "")), F.lit(0)
    ).cast("long")
    sym = F.coalesce(
        F.length(t) - F.length(F.regexp_replace(t, CODE_SYMBOL_PATTERN, "")), F.lit(0)
    ).cast("long")
    ind = F.coalesce(
        F.size(F.regexp_extract_all(t, F.lit(CODE_INDENT_PATTERN), 0)), F.lit(0)
    ).cast("long")
    semi = F.coalesce(
        F.size(F.regexp_extract_all(t, F.lit(CODE_SEMI_EOL_PATTERN), 0)), F.lit(0)
    ).cast("long")
    staged = df.select(
        F.col(id_col),
        n.alias("n_chars"),
        F.when(n > 0, nl + 1).otherwise(F.lit(0)).cast("long").alias("n_lines"),
        sym.alias("symbol_chars"),
        ind.alias("indent_lines"),
        semi.alias("semi_lines"),
    )
    nn = F.col("n_chars").cast("double")
    nln = F.col("n_lines").cast("double")
    sym_r = F.when(F.col("n_chars") > 0, F.col("symbol_chars").cast("double") / nn)
    ind_r = F.when(F.col("n_lines") > 0, F.col("indent_lines").cast("double") / nln)
    semi_r = F.when(F.col("n_lines") > 0, F.col("semi_lines").cast("double") / nln)
    return staged.select(
        id_col,
        "n_chars",
        "n_lines",
        "symbol_chars",
        "indent_lines",
        "semi_lines",
        sym_r.alias("symbol_ratio"),
        ind_r.alias("indent_ratio"),
        semi_r.alias("semi_ratio"),
        (
            (F.col("n_chars") > 0)
            & (F.coalesce(sym_r, F.lit(0.0)) > F.lit(float(symbol_threshold)))
            & (
                (F.coalesce(ind_r, F.lit(0.0)) > F.lit(float(indent_threshold)))
                | (F.coalesce(semi_r, F.lit(0.0)) > F.lit(float(semi_threshold)))
            )
        ).alias("is_code"),
    )


def lang_confusion(
    documents: DataFrame,
    *,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Confusion matrix of the heuristic ``language_id`` against the
    corpus's language labels — the evaluation every classifier gate
    needs before its output drives filtering: which languages does the
    stopword/CJK heuristic confuse, and how much of each language's
    mass is misrouted?

    One row per observed (label, guess) cell: ``lang, lang_guess,
    n_docs, share_of_lang`` (n / the label's total — an exact integer
    ratio) and ``is_correct``.  Misrouted mass reads directly off the
    ``is_correct = 0`` rows.

    Scale shape: one projection computing the guess (pure Columns —
    the same expression ``text_profile`` ships), ONE (lang, guess)
    hash aggregate, and a label-count window over the
    languages²-bounded result.  Zero joins, zero Python.
    """
    from pyspark.sql import Window

    g = documents.select(
        F.col(lang_col).alias("lang"),
        language_id(F.col(text_col)).alias("lang_guess"),
    )
    cells = g.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w_lang = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_guess",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_lang).cast("double"),
            6,
        ).alias("share_of_lang"),
        (F.col("lang") == F.col("lang_guess")).cast("int").alias("is_correct"),
    )
