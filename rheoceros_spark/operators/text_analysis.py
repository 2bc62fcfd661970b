"""Text-analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

All pure built-in column expressions (whole-stage codegen, no UDFs),
composed from :mod:`rheoceros_spark.functions.portable` so each has an
exact SQL oracle.  Per-row only — embarrassingly parallel at any
scale, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rheoceros_spark.functions.portable import (
    h64,
    normalize_text,
    tokens,
)
from rheoceros_spark.operators.scale import (
    checkpoint,
    local_frame,
    observed_checkpoint,
)

# BPE-ish pre-tokenizer: letter runs, single digits, punctuation marks
# (ASCII classes only — identical semantics in Java and RE2/PCRE).
BPE_REGEX = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

# small stopword marker sets per language (n-gram heuristic lang-id)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
}
_LANG_ORDER = ["en", "es", "fr", "de"]  # deterministic tie-break priority


def _marker_hits(toks: Column, lang: str) -> Column:
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add per-language marker-hit scores and ``lang_pred`` (argmax,
    ties broken by fixed language priority; no hits → 'und')."""
    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan before the per-row CPU (r14 — the hash_embed note;
    # no-op on pre-split or streaming input)
    df = ensure_parallelism(df)
    toks = tokens(F.col(text_col))
    out = df
    for lang in _LANG_ORDER:
        out = out.withColumn(f"score_{lang}", _marker_hits(toks, lang))
    best = F.greatest(*[F.col(f"score_{l}") for l in _LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(_LANG_ORDER):  # earlier langs win ties
        pred = F.when((F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def lang_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str | None = None,
    span_tokens: int | None = None,
    classifier_weights: DataFrame | None = None,
    n_buckets: int = 64,
    seed: int = 0,
    ngram_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-SPAN language identification rolled up to a document
    language profile — the CCNet practice of running lang-id at
    paragraph granularity (Wenzek et al. 2020 §3.2) so mixed-language
    pages are detected instead of averaged away: a page that is half
    English half German scores as confidently 'en' under document-level
    lang_id but shows ``n_langs = 2`` here.

    Segmentation modes are :func:`~rheoceros_spark.operators.dedup.
    paragraph_segments`' (literal ``delim`` or fixed token windows);
    each span runs the marker-set :func:`lang_id`.  Returns one row
    per non-NULL-id document: ``n_spans``, ``dominant_lang`` (modal
    non-'und' span language, ties broken ascending; 'und' when no span
    identifies), ``dominant_spans``, ``n_langs`` (distinct identified
    languages), ``multilingual`` (int flag, ≥2).

    Scale shape: shuffle-free segment explode + per-row marker scoring,
    ONE (id, lang) map-side-combined count (≤ 5 rows per doc), then
    doc-bounded argmax — corpus-linear, no text shuffle (the lang
    counts are the only thing on the wire).

    ``classifier_weights``: pass a trained
    :func:`lang_classifier_train` table to score each span with the
    LEARNED classifier instead of the marker lists — the full CCNet
    shape (trained model at paragraph granularity).  The classifier
    always predicts a class (argmax over trained languages, no 'und'),
    so every span counts as identified; the scoring join stays a
    broadcast of the K·(n_buckets+1)-row weight table.  ``ngram_range``
    must match what ``classifier_weights`` was trained with (subword-
    trained weights scored with word features are silent garbage —
    feature spaces differ).

    Reference-extension operator (SURVEY.md §2.12).
    """
    from rheoceros_spark.operators.dedup import paragraph_segments

    segs = paragraph_segments(df, text_col, id_col, delim, span_tokens)
    if classifier_weights is not None:
        # row-LOCAL scoring (lang_classify_rowlocal, bit-equal to the
        # join-based scorer on these unique (id, span_id) rows): the
        # span explode stays shuffle-free and classification adds NO
        # exchange — the earlier keyed-join form shuffled every span
        # twice (groupBy + join-back) for the same values
        scored = lang_classify_rowlocal(
            segs,
            classifier_weights,
            text_col="span_text",
            id_col=id_col,
            n_buckets=n_buckets,
            seed=seed,
            passthrough=True,
            ngram_range=ngram_range,
        ).withColumn("lang_pred", F.col("pred_lang"))
    else:
        scored = lang_id(segs, "span_text")
    per = scored.groupBy(id_col, "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    # ONE rollup for totals + argmax + distinct count: three separate
    # consumers of `per` (totals frame, ranked-window frame, count
    # frame) would re-run the segment explode + scoring per consumer —
    # measured 3 corpus scans; the struct-max folds them into the same
    # aggregate.  Tie-break: max picks the larger struct, so the
    # second field ranks languages in REVERSE alphabetical order to
    # make the alphabetically-first language win equal counts.
    identified = F.col("lang_pred") != "und"
    # min(struct(−count, lang)) = modal language with ties to the
    # alphabetically-first — works for ANY class set (the previous
    # reverse-rank map only covered the marker languages, which would
    # break under a trained classifier's label space)
    dom_struct = F.when(
        identified,
        F.struct(
            (-F.col("__c")).alias("nc"),
            F.col("lang_pred").alias("lang"),
        ),
    )
    roll = per.groupBy(id_col).agg(
        F.sum("__c").cast("bigint").alias("n_spans"),
        F.min(dom_struct).alias("__dom"),
        F.count(F.when(identified, F.lit(1))).cast("bigint").alias("n_langs"),
    )
    return (
        df.where(F.col(id_col).isNotNull())
        .select(id_col)
        .join(roll, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("__dom.lang"), F.lit("und")).alias("dominant_lang"),
            F.coalesce(-F.col("__dom.nc"), F.lit(0))
            .cast("bigint")
            .alias("dominant_spans"),
            F.coalesce(F.col("n_langs"), F.lit(0)).cast("bigint").alias("n_langs"),
            (F.coalesce(F.col("n_langs"), F.lit(0)) >= 2).cast("int").alias(
                "multilingual"
            ),
        )
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_tokens`` (whitespace) and ``n_bpe`` (BPE-ish regex
    pre-token count).  Empty / whitespace-only text counts 0 tokens —
    ``split("", " ")`` is ``[""]``, and that phantom token would
    otherwise leak into packing budgets and quality ratios."""
    norm = normalize_text(F.col(text_col))
    n_tok = F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(tokens(F.col(text_col)))
    )
    return df.withColumn("n_tokens", n_tok).withColumn(
        "n_bpe", F.regexp_count(norm, F.lit(BPE_REGEX))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add heuristic quality components + composite ``quality``:

    * ``len_score``  — saturating token count (≥100 tokens = 1.0)
    * ``punct_ratio`` — punctuation chars / chars
    * ``stop_ratio``  — English stopword hits / tokens
    * ``mean_tok_len`` — chars per token
    * ``quality`` = 0.3·len + 0.3·(1−punct) + 0.4·min(5·stop, 1), rounded 6
    """
    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan before the per-row CPU (r14 — the hash_embed note;
    # no-op on pre-split or streaming input)
    df = ensure_parallelism(df)
    norm = normalize_text(F.col(text_col))
    toks = tokens(F.col(text_col))
    ntok = F.size(toks).cast("double")
    nchars = F.length(norm).cast("double")
    punct = F.regexp_count(norm, F.lit("[^A-Za-z0-9 ]")).cast("double")
    stop_hits = _marker_hits(toks, "en").cast("double")
    len_score = F.least(ntok / F.lit(100.0), F.lit(1.0))
    punct_ratio = F.when(nchars > 0, punct / nchars).otherwise(F.lit(0.0))
    stop_ratio = F.when(ntok > 0, stop_hits / ntok).otherwise(F.lit(0.0))
    mean_tok_len = F.when(ntok > 0, nchars / ntok).otherwise(F.lit(0.0))
    quality = F.round(
        F.lit(0.3) * len_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.4) * F.least(F.lit(5.0) * stop_ratio, F.lit(1.0)),
        6,
    )
    return (
        df.withColumn("len_score", F.round(len_score, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_tok_len", F.round(mean_tok_len, 6))
        .withColumn("quality", quality)
    )


#: rolling-hash modulus/base (2^31-1 keeps every term under 2^62 and the
#: 5-term sum under 2^34 — safe signed-64 math under ANSI mode, and
#: expressible 1:1 in the DuckDB oracle)
FP_P = 2147483647
FP_BASE = 1000003


def fingerprint(df: DataFrame, text_col: str = "text", window: int = 5) -> DataFrame:
    """Add ``fp_md5`` (content hash of normalized text) and ``fp_min``
    (winnowing-style shift-robust signature: min over positions of a
    polynomial rolling hash of ``window`` consecutive token hashes).

    One md5 per **token** (not per n-gram) — the window combination is
    pure modular arithmetic, so cost is O(tokens), not
    O(tokens × window) string builds.  Out-of-range taps on short
    documents read as 0 (deterministic, same in the SQL oracle)."""
    norm = normalize_text(F.col(text_col))
    hs = F.transform(tokens(F.col(text_col)), lambda t: h64(t) % F.lit(FP_P))
    coeffs = [pow(FP_BASE, window - 1 - j, FP_P) for j in range(window)]

    def rolling(i: Column) -> Column:
        terms = [
            (F.lit(coeffs[j]) * F.coalesce(F.get(F.col("__fp_hs"), i + F.lit(j) - 1), F.lit(0)))
            % F.lit(FP_P)
            for j in range(window)
        ]
        s = terms[0]
        for t in terms[1:]:
            s = s + t
        return s % F.lit(FP_P)

    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan before the per-row CPU (r14 — the hash_embed note;
    # no-op on pre-split or streaming input)
    df = ensure_parallelism(df)
    with_hs = df.withColumn("__fp_hs", hs)
    positions = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.size(F.col("__fp_hs")) - F.lit(window - 1))
    )
    return (
        with_hs.withColumn("fp_md5", F.md5(norm))
        .withColumn("fp_min", F.array_min(F.transform(positions, rolling)))
        .drop("__fp_hs")
    )


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1
    "Repetition filters"), adapted to token n-grams:

    * ``dup_token_frac``   — fraction of token occurrences that repeat an
      earlier token: ``(n - n_distinct) / n``
    * ``dup_bigram_frac``  — same over word 2-grams
    * ``dup_trigram_frac`` — same over word 3-grams
    * ``top_bigram_frac``  — fraction of tokens covered by the single most
      frequent bigram: ``2 · max_bigram_count / n_tokens``

    Everything is per-row array algebra — embarrassingly parallel, zero
    shuffle, no UDFs — so the operator's cost at 100 TB is exactly one
    scan.  The most-frequent-bigram count is ``array_sort`` + a single
    ``F.aggregate`` run-length fold.  The fold matters: it references
    the sorted array exactly ONCE, so even when Catalyst inlines the
    whole expression into a downstream predicate (PushDownPredicates
    substitutes Project aliases into pushed filters with no
    cheap-expression guard), evaluation stays O(n log n) per row.  The
    earlier positions→bounds→diffs formulation re-evaluated the sort
    per lambda element after inlining — a filter on ``top_bigram_frac``
    went super-quadratic and effectively hung.  Documents with no
    tokens score 0 in every metric.

    Reference-extension operator (SURVEY.md §2.12); public heuristic per
    the Gopher paper's data-quality appendix.
    """
    from rheoceros_spark.functions.portable import word_ngrams
    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan to cluster width before the per-row sort/fold CPU
    # (r14 — the hash_embed note; no-op on pre-split or streaming input)
    df = ensure_parallelism(df)
    empty = F.length(F.coalesce(normalize_text(F.col(text_col)), F.lit(""))) == 0
    empty_arr = F.array().cast("array<string>")
    out = df.withColumn(
        "__t", F.when(empty, empty_arr).otherwise(tokens(F.col(text_col)))
    )
    n = F.size(F.col("__t"))
    # word_ngrams pads to >= 1 element (a short-doc partial gram); slice to
    # the real n-gram count so a 1-token doc has 0 bigrams, not 1.
    out = out.withColumn(
        "__bi",
        F.when(
            n >= 2, F.slice(word_ngrams(F.col("__t"), 2), 1, F.greatest(n - 1, F.lit(1)))
        ).otherwise(empty_arr),
    ).withColumn(
        "__tri",
        F.when(
            n >= 3, F.slice(word_ngrams(F.col("__t"), 3), 1, F.greatest(n - 2, F.lit(1)))
        ).otherwise(empty_arr),
    )

    # longest run of equal values in the sorted bigram array, one fold:
    # acc = (prev value, current run length, best run length).  Bigrams
    # are never '' (tokens are non-empty post-normalization), so the ''
    # seed cannot extend a run.  Empty array → best stays 0.
    def _step(acc, x):
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    max_run = F.aggregate(
        F.array_sort(F.col("__bi")),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        _step,
        lambda acc: acc.best,
    )

    def dup_frac(col_name: str) -> Column:
        arr = F.col(col_name)
        cnt = F.size(arr).cast("double")
        return F.round(
            F.when(
                cnt > 0, (cnt - F.size(F.array_distinct(arr)).cast("double")) / cnt
            ).otherwise(F.lit(0.0)),
            6,
        )

    ntok = n.cast("double")
    top_bi = F.when(
        F.size(F.col("__bi")) > 0,
        F.least(F.lit(2.0) * max_run.cast("double") / ntok, F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("dup_token_frac", dup_frac("__t"))
        .withColumn("dup_bigram_frac", dup_frac("__bi"))
        .withColumn("dup_trigram_frac", dup_frac("__tri"))
        .withColumn("top_bigram_frac", F.round(top_bi, 6))
        .drop("__t", "__bi", "__tri")
    )


#: Gopher's "stop word" rule set (Rae et al. 2021 §A1.1): a document
#: must contain at least two of these to pass the final quality rule.
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: line-leading bullet glyphs for the bullet-line rule
GOPHER_BULLETS = ["-", "*", "•"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, §A1.1 — the
    non-repetition half; :func:`repetition_metrics` covers the
    repetition half): per-document pass/fail flags for

    * ``g_word_count``     — word count in ``[min_words, max_words]``
    * ``g_mean_word_len``  — mean word length in ``[3, 10]`` chars
    * ``g_symbol_ratio``   — hash-to-word ratio ≤ 0.1 AND
      ellipsis-to-word ratio ≤ 0.1 (the paper applies the threshold to
      EITHER symbol separately, not to their sum)
    * ``g_bullet_lines``   — ≤ 90% of lines start with a bullet glyph
    * ``g_ellipsis_lines`` — ≤ 30% of lines end with an ellipsis
    * ``g_alpha_words``    — ≥ 80% of words contain a letter
    * ``g_stop_words``     — ≥ 2 distinct Gopher stop words present
    * ``gopher_pass``      — conjunction of all seven

    Every threshold comparison is EXACT INTEGER arithmetic
    (``10·n_sym ≤ n_words`` instead of ``n_sym/n_words ≤ 0.1``), so the
    flags are bit-identical across engines with no float-rounding seam;
    the reported ratio columns are integer-quantized (``·1e6 div n``,
    then one IEEE division by 1e6 — the dsir_logw discipline).  Word
    totals come from ``length(norm) − (n_words − 1)``: normalization
    collapses runs to single spaces, so the subtraction recovers the
    summed word length without a per-word fold.

    Pure per-row column algebra — zero shuffle, no UDFs, whole-stage
    codegen; cost at 100 TB is exactly one scan, and the operator is
    stateless so the Structured Streaming twin is the same expression
    tree (streaming/stream.py stream_gopher_rules).

    Reference-extension operator (SURVEY.md §2.12); rule set is public
    per the Gopher paper's data-quality appendix.
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    norm = normalize_text(raw)
    toks = tokens(raw)
    n_words = F.when(F.length(norm) == 0, F.lit(0)).otherwise(F.size(toks)).cast("long")
    word_chars = F.when(
        n_words > 0, F.length(norm).cast("long") - (n_words - F.lit(1))
    ).otherwise(F.lit(0))

    # symbols counted on the RAW text (normalization strips nothing
    # relevant, but the rule is about the document as authored)
    n_hash = (F.length(raw) - F.length(F.replace(raw, F.lit("#"), F.lit("")))).cast("long")
    n_uni_ell = (
        F.length(raw) - F.length(F.replace(raw, F.lit("…"), F.lit("")))
    ).cast("long")
    n_dot_ell = F.regexp_count(raw, F.lit(r"\.\.\.")).cast("long")
    n_ell = n_uni_ell + n_dot_ell

    lines = F.split(raw, "\n")
    n_lines = F.size(lines).cast("long")
    bullet_first = lambda l: F.substring(F.ltrim(l), 1, 1).isin(*GOPHER_BULLETS)
    n_bullet = F.size(F.filter(lines, bullet_first)).cast("long")
    ell_end = lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…")
    n_ell_lines = F.size(F.filter(lines, ell_end)).cast("long")

    # \p{L} (any Unicode letter) rather than [a-z]: Gopher's rule is
    # "contains at least one alphabetic character", which must hold for
    # é/ü/ñ… too; Java and RE2 (the DuckDB oracle) agree on \p{L}
    alpha = lambda t: t.rlike(r"\p{L}")
    n_alpha = F.when(n_words > 0, F.size(F.filter(toks, alpha))).otherwise(F.lit(0)).cast("long")
    stop_hits = F.size(
        F.array_intersect(F.array(*[F.lit(s) for s in GOPHER_STOPS]), toks)
    ).cast("long")

    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan to cluster width before the per-row rule CPU (r14 —
    # the hash_embed note; no-op on pre-split or streaming input)
    df = ensure_parallelism(df)
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("__wc", word_chars)
        .withColumn("__hsh", n_hash)
        .withColumn("__ell2", n_ell)
        .withColumn("n_lines", n_lines)
        .withColumn("__bul", n_bullet)
        .withColumn("__ell", n_ell_lines)
        .withColumn("__alpha", n_alpha)
        .withColumn("stop_hits", stop_hits)
    )
    q6 = lambda num, den: F.when(
        F.col(den) > 0, F.expr(f"{num} * 1000000L div {den}").cast("double") / F.lit(1e6)
    )
    out = (
        out.withColumn("mean_word_len", q6("__wc", "n_words"))
        .withColumn("hash_word_ratio", q6("__hsh", "n_words"))
        .withColumn("ellipsis_word_ratio", q6("__ell2", "n_words"))
        .withColumn("bullet_line_frac", q6("__bul", "n_lines"))
        .withColumn("ellipsis_line_frac", q6("__ell", "n_lines"))
        .withColumn("alpha_word_frac", q6("__alpha", "n_words"))
    )
    rules = {
        "g_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "g_mean_word_len": (F.col("n_words") > 0)
        & (F.col("__wc") >= F.lit(min_mean_word_len) * F.col("n_words"))
        & (F.col("__wc") <= F.lit(max_mean_word_len) * F.col("n_words")),
        "g_symbol_ratio": (F.lit(10) * F.col("__hsh") <= F.col("n_words"))
        & (F.lit(10) * F.col("__ell2") <= F.col("n_words")),
        "g_bullet_lines": F.lit(10) * F.col("__bul") <= F.lit(9) * F.col("n_lines"),
        "g_ellipsis_lines": F.lit(10) * F.col("__ell") <= F.lit(3) * F.col("n_lines"),
        "g_alpha_words": (F.col("n_words") > 0)
        & (F.lit(10) * F.col("__alpha") >= F.lit(8) * F.col("n_words")),
        "g_stop_words": F.col("stop_hits") >= 2,
    }
    gpass = None
    for name, cond in rules.items():
        out = out.withColumn(name, cond.cast("int"))
        c = F.col(name) == 1
        gpass = c if gpass is None else gpass & c
    return out.withColumn("gopher_pass", gpass.cast("int")).drop(
        "__wc", "__hsh", "__ell2", "__bul", "__ell", "__alpha"
    )


#: C4 terminal punctuation: period, exclamation, question mark, end quote
C4_TERMINALS = [".", "!", "?", '"']


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4's line-level cleaning rules (Raffel et al. 2020, §2.2) — the
    LINE-granular complement to :func:`gopher_rules`' document-granular
    filters:

    * a line is KEPT iff it ends in terminal punctuation (``. ! ? "``
      after right-trimming spaces), has ≥ ``min_line_words`` words
      (default 5), and does not contain the word ``javascript``
      (case-insensitive);
    * the page PASSES iff ≥ ``min_kept_lines`` lines survive
      (default 3), and the raw page contains neither ``lorem ipsum``
      (case-insensitive) nor a curly brace ``{``.

    Defaults follow the REFERENCE IMPLEMENTATION
    (tensorflow_datasets c4_utils: ``_MIN_WORDS_PER_LINE = 5``,
    ``_MIN_NUM_SENTENCES = 3``); note the paper's prose states the
    pairing the other way around — the code is canonical C4, and both
    thresholds stay parameters.

    Adds ``n_lines`` / ``n_kept`` / ``has_lorem`` / ``has_brace`` /
    ``c4_pass`` and ``clean_text`` — the kept lines rejoined with
    ``\\n``, byte-identical to the source lines (reassembly is
    certified in the oracle, which compares the full string).  C4's
    remaining rules are covered elsewhere: bad-word filtering is a
    wordlist lookup (out of scope — the list itself is the operator),
    and three-sentence-span dedup is :func:`~rheoceros_spark.operators.
    dedup.paragraph_dedup` at a different granularity.

    Pure per-row array algebra — zero shuffle, no UDFs, one scan at
    100 TB; exact counts, no float thresholds anywhere.

    Reference-extension operator (SURVEY.md §2.12); rule set is public
    per the C4 paper.
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(raw, "\n")

    def kept_line(l: Column) -> Column:
        rt = F.rtrim(l)
        terminal = None
        for t in C4_TERMINALS:
            c = rt.endswith(t)
            terminal = c if terminal is None else terminal | c
        norm_l = F.trim(F.regexp_replace(l, "[ \t\n\f\r]+", " "))
        # split("") is [""] — a whitespace-only line must count 0 words,
        # not 1 (review-caught: min_line_words=1 otherwise kept it)
        words = F.when(F.length(norm_l) == 0, F.lit(0)).otherwise(
            F.size(F.split(norm_l, " "))
        )
        return terminal & (words >= min_line_words) & (
            ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, kept_line)
    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan before the per-row line filtering (r14; no-op on pre-split
    # or streaming input)
    df = ensure_parallelism(df)
    has_lorem = F.lower(raw).contains("lorem ipsum")
    has_brace = raw.contains("{")
    n_kept = F.size(kept).cast("long")
    return (
        df.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_kept", n_kept)
        .withColumn("has_lorem", has_lorem.cast("int"))
        .withColumn("has_brace", has_brace.cast("int"))
        .withColumn(
            "c4_pass",
            ((n_kept >= min_kept_lines) & ~has_lorem & ~has_brace).cast("int"),
        )
        .withColumn("clean_text", F.array_join(kept, "\n"))
    )


def unigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram model — the CCNet-style LM fluency signal (Wenzek et al.
    2020 train KenLM; the unigram twin keeps the operator closed-form
    and oracle-checkable): ``nll = mean over tokens of −ln(c(t)/N)``.
    Low = stereotyped/common tokens, high = rare-token soup; both tails
    get inspected in practice.

    Pass ``counts`` ((token, cnt) from a reference corpus) to score
    against a fixed model instead of self-training; tokens absent from
    it are dropped from the mean (add-one smoothing would need the
    reference vocab size as an explicit, auditable parameter).

    Scale shape is wordcount twice: explode → per-(doc, token) local
    counts → join the vocab-sized model by token (both sides hash on
    token) → per-doc weighted aggregate.  Nothing driver-sized, no
    UDFs; the model side is vocab-sized, never corpus-sized.

    Returns one row per input row: (id, n_scored, nll).  Documents with
    no tokens score NULL nll with ``n_scored`` 0.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    per_doc_tok = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("n"))
    if counts is None:
        # self-training derives the model FROM the per-(doc, token)
        # aggregate instead of re-aggregating the raw token stream: the
        # token-level exchange then feeds both consumers (one corpus
        # scan + one token shuffle), where two independent groupBys
        # over `toks` would scan and explode the corpus twice
        counts = per_doc_tok.groupBy("token").agg(F.sum("n").alias("cnt"))
    # overflow: cnt ≤ __N = total corpus tokens ≈ 2.5e13 at 100 TB of
    # text — 5 orders of magnitude under 2^63; bigint sums are safe.
    total = counts.agg(F.sum("cnt").alias("__N"))
    # Each term is quantized to an INTEGER (1e-7 nats) before the
    # per-doc sum: a double sum is addition-order dependent (shuffle
    # arrival order differs run to run and engine to engine), while the
    # integer sum is exact in any order — the aggregate then yields the
    # same bits everywhere (cents()-style determinism; the 1e-7 grid
    # also absorbs any last-ulp ln() divergence between libm builds).
    scored = (
        per_doc_tok.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("n"),
            F.round(
                -F.log(F.col("cnt").cast("double") / F.col("__N").cast("double"))
                * F.lit(1e7)
            )
            .cast("bigint")
            .alias("__lpq"),
        )
    )
    # overflow: the Σ n·__lpq accumulator is PER-DOC (grouped by id):
    # ≤ doc_tokens · ln(N)·1e7 ≈ doc_tokens · 4.4e8, under 2^63 for any
    # document below ~2e10 tokens — no real document; bigint is safe.
    agg = scored.groupBy(id_col).agg(
        F.sum("n").cast("bigint").alias("n_scored"),
        F.round(
            F.sum(F.col("n") * F.col("__lpq")).cast("double")
            / (F.lit(1e7) * F.sum("n").cast("double")),
            6,
        ).alias("nll"),
    )
    # keep zero-token documents (left join back to the input's ids)
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_scored"), F.lit(0)).cast("bigint").alias("n_scored"),
            "nll",
        )
    )


def bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.1,
    bigram_counts: DataFrame | None = None,
    vocab_size: int | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under an add-k-smoothed
    BIGRAM model — the next step toward CCNet's KenLM perplexity filter
    (Wenzek et al. 2020) that :func:`unigram_nll` stands in for:
    ``P(w|v) = (c(v,w) + k) / (c(v,·) + k·V)``, scored over every
    adjacent token pair, ``nll`` the per-pair mean of ``−ln P``.
    Conditioning on the previous token is what actually separates
    fluent text from shuffled-word soup — a unigram model scores both
    identically.

    Self-trains on the input corpus by default; pass ``bigram_counts``
    ((v, w, cnt) from a reference corpus) plus an explicit
    ``vocab_size`` (auditable, like unigram_nll's stance on its
    reference vocab) to score against a fixed model — unseen bigrams
    then back off to the add-k floor ``k / (c(v,·) + k·V)`` and unseen
    prefixes to ``1/V``, so every document is scoreable.

    Bit-exact across engines by the house quantization discipline:
    each pair's ``−ln P`` is rounded to an INTEGER 1e-7-nat grid
    before the per-doc sum (integer sums are addition-order exact;
    the grid absorbs last-ulp libm differences), division happens once
    at the end.

    Scale shape is wordcount-shaped throughout: per-row adjacent-pair
    explode (shuffle-free), per-(doc, v, w) local counts, the
    model derived FROM that aggregate (the unigram_nll exchange-reuse
    trick — one corpus scan, one bigram-level shuffle), prefix totals
    off the model (model-sized), vocabulary count as a broadcast
    scalar, one equi-join per model table, one per-doc rollup.  The
    model is bigram-vocabulary-sized, never corpus-sized; nothing is
    collected to the driver.

    Returns one row per input row: (id, n_scored, nll) where
    ``n_scored`` counts scored pairs; documents with < 2 tokens score
    NULL with 0 pairs.
    """
    if (bigram_counts is None) != (vocab_size is None):
        raise ValueError(
            "bigram_nll: pass bigram_counts WITH vocab_size (the reference "
            "model's vocabulary is an explicit parameter) or neither"
        )
    from rheoceros_spark.operators.scale import ensure_parallelism

    toks_arr = tokens(F.col(text_col))
    base = ensure_parallelism(
        df.where(F.col(id_col).isNotNull()).select(id_col, text_col)
    ).select(F.col(id_col), toks_arr.alias("__t"))
    pairs = (
        base.where(F.size("__t") >= 2)
        .select(
            F.col(id_col),
            F.col("__t"),
            F.explode(F.sequence(F.lit(1), F.size("__t") - 1)).alias("__p"),
        )
        .select(
            F.col(id_col),
            F.element_at("__t", F.col("__p")).alias("v"),
            F.element_at("__t", F.col("__p") + 1).alias("w"),
        )
        .where((F.col("v") != "") & (F.col("w") != ""))
    )
    # two consumers branch here (the corpus bigram model and the per-doc
    # scoring join; interleaved A/B at sf0.1: 3.08 s → 2.64 s min-of-4)
    per_doc_bg = checkpoint(
        pairs.groupBy(id_col, "v", "w").agg(F.count(F.lit(1)).alias("n"))
    )
    if bigram_counts is None:
        bigram_counts = per_doc_bg.groupBy("v", "w").agg(F.sum("n").alias("cnt"))
        vocab = (
            base.select(F.explode("__t").alias("token"))
            .where(F.col("token") != "")
            .agg(F.countDistinct("token").cast("double").alias("__V"))
        )
    else:
        bigram_counts = bigram_counts.select(
            "v", "w", F.col("cnt").cast("bigint").alias("cnt")
        )
        vocab = df.sparkSession.range(1).select(
            F.lit(float(vocab_size)).alias("__V")
        )
    # overflow: c_v ≤ total corpus bigrams ≈ corpus tokens ≈ 2.5e13
    # at 100 TB — far under 2^63; bigint is safe.
    prefix = bigram_counts.groupBy("v").agg(F.sum("cnt").alias("c_v"))
    scored = (
        per_doc_bg.join(bigram_counts, ["v", "w"], "left")
        .join(prefix, "v", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.col("n"),
            F.round(
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(float(k)))
                    / (
                        F.coalesce(F.col("c_v"), F.lit(0)).cast("double")
                        + F.lit(float(k)) * F.col("__V")
                    )
                )
                * F.lit(1e7)
            )
            .cast("bigint")
            .alias("__lpq"),
        )
    )
    # overflow: the Σ n·__lpq accumulator is PER-DOC (grouped by id):
    # ≤ doc_tokens · ln(N)·1e7 ≈ doc_tokens · 4.4e8, under 2^63 for any
    # document below ~2e10 tokens — no real document; bigint is safe.
    agg = scored.groupBy(id_col).agg(
        F.sum("n").cast("bigint").alias("n_scored"),
        F.round(
            F.sum(F.col("n") * F.col("__lpq")).cast("double")
            / (F.lit(1e7) * F.sum("n").cast("double")),
            6,
        ).alias("nll"),
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_scored"), F.lit(0)).cast("bigint").alias("n_scored"),
            "nll",
        )
    )


def bigram_score_rowlocal(
    df: DataFrame,
    bigram_counts: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.1,
    passthrough: bool = False,
) -> DataFrame:
    """Row-LOCAL twin of :func:`bigram_nll`'s fixed-model path: the
    reference bigram model rides along as ONE broadcast row holding a
    ``v → (w → cnt, c_v)`` nested map column (built executor-side with
    ``map_from_entries`` — the model is DATA, never a plan literal, so
    a multi-MB model doesn't bloat codegen), and each document's NLL
    is a per-row fold over its adjacent token pairs — NO explode, NO
    per-pair shuffle, NO per-doc aggregation.

    Per-pair ``−ln P`` is rounded to the same 1e-7 integer grid as the
    batch scorer before the per-doc sum, and integer addition
    commutes, so the fold is bit-equal to
    ``bigram_nll(df, bigram_counts=…, vocab_size=…)`` (parity-tested).
    Unseen bigrams back off to ``k/(c_v + k·V)`` and unseen prefixes
    to ``1/V``, exactly as there.

    This is the scoring shape for Structured Streaming (stateless —
    the batch path's per-(doc, v, w) groupBy would need a state store;
    see streaming.stream.stream_bigram_score) and for scoring passes
    where even one corpus shuffle matters.  The model must be a
    bounded REFERENCE model (model-sized like classifier weights and
    IVF codebooks — pass a top-M-pruned table for web-scale vocabularies,
    never a corpus-derived frame of unbounded width).

    Returns (id, n_scored, nll) like :func:`bigram_nll` — including
    NULL-id rows, which surface with n_scored=0 / nll NULL exactly as
    the batch scorer's left join emits them.
    """
    if vocab_size is None or vocab_size <= 0:
        raise ValueError(
            f"bigram_score_rowlocal: vocab_size must be > 0, got {vocab_size}"
        )
    V = float(vocab_size)
    per_v = bigram_counts.groupBy("v").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("w"), F.col("cnt").cast("bigint")))
        ).alias("m"),
        F.sum("cnt").cast("bigint").alias("c_v"),
    )
    model = per_v.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("v"), F.struct("m", "c_v")))
        ).alias("__model")
    ).withColumn("__one", F.lit(1))

    base = df.withColumn("__one", F.lit(1))
    joined = base.join(F.broadcast(model), "__one").drop("__one")

    t = tokens(F.col(text_col))
    idxs = F.when(F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)).otherwise(
        F.array().cast("array<int>")
    )

    def pair_lpq(i):
        v = F.element_at(t, i.cast("int"))
        w = F.element_at(t, i.cast("int") + 1)
        e = F.element_at(F.col("__model"), v)
        cnt = F.coalesce(F.element_at(e.getField("m"), w), F.lit(0).cast("bigint"))
        c_v = F.coalesce(e.getField("c_v"), F.lit(0).cast("bigint"))
        lpq = F.round(
            -F.log(
                (cnt.cast("double") + F.lit(float(k)))
                / (c_v.cast("double") + F.lit(float(k)) * F.lit(V))
            )
            * F.lit(1e7)
        ).cast("bigint")
        return F.when((v != "") & (w != ""), lpq)

    acc0 = F.struct(
        F.lit(0).cast("bigint").alias("s"), F.lit(0).cast("bigint").alias("n")
    )
    # evaluate each pair's lpq ONCE via transform, then fold — HOF
    # lambdas get no codegen subexpression elimination, so a
    # when(lpq.isNotNull(), acc + lpq) guard would run the two map
    # lookups + ln twice per pair on this hot row-local path
    lpqs = F.filter(F.transform(idxs, pair_lpq), lambda x: x.isNotNull())
    folded = F.aggregate(
        lpqs,
        acc0,
        lambda acc, x: F.struct(
            (acc.getField("s") + x).alias("s"),
            (acc.getField("n") + F.lit(1).cast("bigint")).alias("n"),
        ),
    )
    head = (
        [F.col(c) for c in df.columns] if passthrough else [F.col(id_col)]
    )
    # the batch twin's left join emits NULL-id rows as n_scored=0 /
    # nll NULL (a NULL key never matches), so force exactly that here
    # in the SAME projection — a separate where(isNull)+union branch
    # would scan the input twice per action (r10 review finding), and
    # the CASE short-circuits so NULL-id rows never pay the fold
    is_null = F.col(id_col).isNull()
    return joined.select(
        *head,
        F.when(is_null, F.lit(0).cast("bigint"))
        .otherwise(folded.getField("n"))
        .alias("n_scored"),
        F.when(is_null, F.lit(None).cast("double"))
        .otherwise(
            F.when(
                folded.getField("n") > 0,
                F.round(
                    folded.getField("s").cast("double")
                    / (F.lit(1e7) * folded.getField("n").cast("double")),
                    6,
                ),
            )
        )
        .alias("nll"),
    )


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 5,
    materialize_matched: str | None = None,
) -> DataFrame:
    """Sparse lexical retrieval: BM25 top-``k`` corpus documents per
    query (Robertson & Zaragoza 2009, "The Probabilistic Relevance
    Framework: BM25 and Beyond").

    ``materialize_matched`` controls whether the matched (doc, term)
    aggregate — consumed twice: document frequencies + the weight
    frame — is re-executed (None, the default) or Spark-cached
    ("cache").  The default is None because a "cache" caller owns the
    cleanup: the cached frame lives until the session ends or the
    caller clears it (Spark's CacheManager holds the reference past GC), so a
    long-lived service embedding many distinct bm25 calls would leak
    one cached frame per call.  Single-query batch entry points (the
    registered bench queries) opt in with "cache";
    bench.py/scale_stability clear the catalog cache before every
    timed run so min-of-N stays cold.  The
    round-9 fresh-JVM A/B (min of 3): cache 10.96 s vs re-execute 13.23 s at
    sf1, 2.96 s vs 3.38 s at sf0.1 — caching the narrow
    |query-vocab|-bounded matched frame beats re-running the corpus
    tokenize at both scales, and MEMORY_AND_DISK storage spills
    gracefully so it stays 100 TB-safe (the cached rows are
    (id, token, tf, dl) for query-matched terms only, never the
    corpus).  The r6 sf0.1 measurements that favored re-execution
    predate the w_dt/per-matched-row quantization split; numbers in
    BASELINE.md §3.

    The reference hands retrieval-style workloads to user Spark code
    (api_ext.py:107-190 slots); this makes the canonical sparse scorer a
    first-class, oracle-checkable operator — the retrieval counterpart
    of the dense ANN family in :mod:`operators.similarity`.

    Scale shape (the part that matters at 100 TB): **the corpus-wide
    token stream is never shuffled.**

    * the exploded token stream is filtered by the **broadcast** query
      vocabulary BEFORE any aggregation, so the only token shuffle is
      over query-term occurrences — |query vocab|-bounded per doc, not
      corpus-bounded.  (An earlier variant aggregated full corpus
      postings first and derived the collection stats from that
      exchange; it looked like "one scan" but paid a full corpus token
      shuffle — measured 4x slower at sf0.1 than this shape.)
    * the corpus-level (N, avgdl) scalars come from a second, NARROW
      pass: per-row ``size(tokens(text))`` straight into a map-side
      scalar aggregate — tokenize-only CPU, no explode, no shuffle;
    * ``df(token)`` aggregates the matched slice — one row per
      (doc, matched term) IS the document frequency — never the full
      vocabulary (web-scale vocab is ~1e8 terms, unbroadcastable);
    * top-k per query ranks ≤ |queries| × |matched docs| rows, window-
      partitioned by query — never the full corpus.

    Determinism: each per-term BM25 contribution is quantized to an
    integer (1e-7 grid) BEFORE the per-(query, doc) sum, so the
    aggregate is addition-order independent and bit-identical across
    engines (the unigram_nll cents() pattern); ranking ties break on
    ascending doc id.  Repeated query terms score once (distinct terms
    per query).

    Returns (query_id, doc_id, score, rank) with rank 1..k per query.
    """
    if k < 1:
        raise ValueError(f"bm25_topk: k must be >= 1, got {k}")
    # doc length = token count = number of non-whitespace runs in the
    # RAW text: exactly size(tokens(text)) with the norm_len==0 → 0
    # guard folded in (lowercasing can't change where whitespace runs
    # are; the char class is normalize_text's own, so \x0B and unicode
    # spaces classify identically), but ONE regex count instead of the
    # full lower+rewrite+trim+split chain — this expression runs in
    # every corpus pass (stats AND the per-token project under the
    # explode, which Catalyst does not CSE with the generator input),
    # so the old spelling normalized the corpus twice more than the
    # tokenize itself needs (r14, guide §1.2)
    dl = F.regexp_count(F.col(text_col), F.lit("[^ \t\n\f\r]+"))
    # NULL ids are excluded up front: the oracle's dls join drops them,
    # and a NULL id would otherwise sort FIRST on a score tie (asc
    # nulls-first) and silently displace a real doc from the top-k
    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan out BEFORE the tokenize/explode CPU (a single-file
    # corpus otherwise tokenizes on ONE core — the _minhash_docs
    # lesson); at real scale the input arrives pre-split and this is
    # a no-op
    base = ensure_parallelism(
        corpus.where(F.col(id_col).isNotNull()).select(id_col, text_col)
    )
    toks = (
        base.select(
            F.col(id_col),
            dl.alias("__dl"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .where(F.col("token") != "")
    )
    # (N, avgdl) over all NULL-free corpus docs (token-free ones too):
    # a narrow tokenize-only pass, map-side scalar aggregate — the
    # corpus never shuffles for this.
    stats = base.select(dl.alias("__dl")).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
    )
    q_terms = (
        queries.where(F.col(query_id_col).isNotNull())
        .select(
            F.col(query_id_col), F.explode(tokens(F.col(query_text_col))).alias("token")
        )
        .where(F.col("token") != "")
        .distinct()
    )
    # broadcast-filter the token stream BEFORE aggregating: the only
    # token shuffle is over query-term occurrences.  df(token) is a
    # tiny groupBy of that matched aggregate (one row per (doc, term)
    # IS the document frequency) broadcast back in — NOT a window over
    # the token partition: a stopword-ish query term can match most of
    # the corpus, and WindowExec cannot split a partition, while the
    # aggregate combines map-side and the re-executed matched subtree
    # is a linear, fully parallel pass (measured faster at sf0.1 too;
    # round 6 re-tested both localCheckpoint — plan→RDD conversion
    # bypasses AQE, slower — and pruning-blocker dummy outputs to force
    # exchange reuse — reuse never triggered and the heavier duplicate
    # aggregate cost more — so the duplicate linear pass stands).
    matched = (
        toks.join(F.broadcast(q_terms.select("token").distinct()), "token")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("__tf"), F.max("__dl").alias("__dl"))
    )
    if materialize_matched == "cache":
        matched = matched.cache()
    elif materialize_matched is not None:
        raise ValueError(
            "bm25_topk: materialize_matched must be None or 'cache', "
            f"got {materialize_matched!r}"
        )
    doc_freq = matched.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    idf = F.log(
        F.lit(1.0) + (F.col("__n") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    tf = F.col("__tf").cast("double")
    tf_norm = (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl").cast("double") / F.col("__avgdl"))
    )
    # the BM25 weight depends only on (doc, term) — quantize it on the
    # |matched| rows BEFORE the query fan-out join.  Queries sharing
    # vocabulary multiply matched rows (measured 115k → 4.4M at sf0.1);
    # evaluating log/divide math per fanned-out row instead of per
    # matched row was 40× redundant float work, while the fanned rows
    # themselves are narrow integers that map-side partial aggregation
    # collapses before the (query, doc) shuffle.
    w_dt = (
        matched.join(F.broadcast(doc_freq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "token",
            F.round(idf * tf_norm * F.lit(1e7)).cast("bigint").alias("__c"),
        )
    )
    contrib = w_dt.join(F.broadcast(q_terms), "token").select(
        query_id_col, id_col, "__c"
    )
    # overflow: Σ__c is PER (query, doc) — ≤ query_terms ·
    # max(idf·tf_norm)·1e7 ≈ 1e4 · (ln(1+N)·(k1+1))·1e7 ≈ 1e13 even at
    # N = 1e11 docs and a 10k-term query; bigint is safe.  The __tf /
    # __df counts feeding it are per-doc / per-term doc counts, both
    # ≤ corpus rows ≈ 1e11.
    scored = contrib.groupBy(query_id_col, id_col).agg(F.sum("__c").alias("__score_q"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("__score_q").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            # raw integer-derived division, NOT re-rounded: the same
            # IEEE op gives identical bits on every engine, while a
            # round() at a decimal tie (score_q ending in 5 — 1-in-10
            # rows) splits between HALF_UP and half-even
            (F.col("__score_q").cast("double") / F.lit(1e7)).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def tfidf_topk_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by TF-IDF
    (``tf(t,d) · ln(N / df(t))``) — the classic salience signal used
    for corpus topic inspection, near-dup triage ("what is this cluster
    about"), and cheap doc tagging before anything embedding-based.

    Scale shape (wordcount-shaped, corpus-linear):

    * explode → per-(doc, term) counts; the document-frequency table
      aggregates FROM that same exchange (the unigram_nll trick), so
      the corpus is tokenized once and the token-level shuffle feeds
      both consumers;
    * ``N`` comes from a narrow no-explode count pass, never a collect;
    * the df(term) join is an equi-join on the term — AQE skew-split
      handles stopword terms that appear in most of the corpus;
    * the ``row_number() <= k`` filter sits directly above its window →
      ``WindowGroupLimit`` keeps a map-side per-doc top-k heap, so the
      final per-doc rank shuffles O(docs × k) rows, not every (doc,
      term) pair.

    Determinism: the IDF factor is quantized to an integer 1e-7 grid
    before the tf multiply (absorbing last-ulp ``ln`` divergence across
    libm builds), and rank ties break on ascending term — bit-identical
    across engines.  Returns (id, token, tf, score, term_rank);
    documents with no tokens produce no rows.
    """
    if k < 1:
        raise ValueError(f"tfidf_topk_terms: k must be >= 1, got {k}")
    from rheoceros_spark.operators.scale import ensure_parallelism

    base = ensure_parallelism(
        df.where(F.col(id_col).isNotNull()).select(id_col, text_col)
    )
    toks = base.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    per_doc_tok = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    doc_freq = per_doc_tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    n_docs = base.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        per_doc_tok.join(doc_freq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("token"),
            F.col("tf"),
            (
                F.col("tf")
                * F.round(F.log(F.col("__n") / F.col("__df")) * F.lit(1e7)).cast("bigint")
            ).alias("__sq"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__sq").desc(), F.col("token").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(
            id_col,
            "token",
            "tf",
            (F.col("__sq").cast("double") / F.lit(1e7)).alias("score"),
            "term_rank",
        )
    )


def source_kl_drift(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-distribution drift against the whole corpus:
    ``KL(p_source ‖ p_corpus) = Σ_t p_s(t) · ln(p_s(t) / p_c(t))`` —
    the corpus-monitoring signal that flags a source whose vocabulary
    diverges from the mix (a crawl gone spammy, a template flood, a
    language shift) without reading a single document by hand.

    No smoothing is needed: the corpus is a superset of every source,
    so ``p_c(t) > 0`` wherever ``p_s(t) > 0`` and every term is finite.

    Scale shape (wordcount-shaped, corpus-linear): explode → one
    map-side-combined ``groupBy(source, token)`` count; the corpus
    token totals and per-source totals both aggregate FROM that same
    per-(source, token) frame (vocab-sized, not corpus-sized), so the
    corpus is tokenized exactly once.  The corpus-vocab join is an
    equi-join on the token (AQE skew-split handles stopwords); the
    grand total is a 1-row broadcast.

    Determinism: each token's log-ratio is quantized to the 1e-7
    integer grid before the per-source sum (exact in any order); the
    final KL is one IEEE division, never re-rounded — bit-identical
    across engines (the dsir_weights lesson).  The ratio is computed in
    doubles, not a bigint cross-product, so ``c_st · N_corpus`` cannot
    overflow at 100 TB token counts.

    Returns one row per source: (source, n_tokens, kl).
    """
    from rheoceros_spark.operators.scale import ensure_parallelism

    # the explicit isnotnull(source) matters for plan reuse, not just
    # semantics (the substring_spans lesson): the scoring join infers
    # it on its branch while the corpus-totals branch would not, and
    # that one-filter difference breaks exchange canonicalization —
    # the corpus would then be tokenized twice.  NULL-source rows
    # cannot belong to any source's distribution either way.
    toks = (
        ensure_parallelism(
            df.where(F.col(source_col).isNotNull()).select(source_col, text_col)
        )
        .select(source_col, F.explode(tokens(F.col(text_col))).alias("token"))
        .where(F.col("token") != "")
    )
    per_src = toks.groupBy(source_col, "token").agg(
        F.count(F.lit(1)).alias("__cst")
    )
    corpus = per_src.groupBy("token").agg(F.sum("__cst").alias("__cct"))
    src_tot = per_src.groupBy(source_col).agg(F.sum("__cst").alias("__ns"))
    grand = corpus.agg(F.sum("__cct").alias("__nc"))
    ratio = (
        F.col("__cst").cast("double") * F.col("__nc").cast("double")
    ) / (F.col("__cct").cast("double") * F.col("__ns").cast("double"))
    # overflow: both the per-term product and the per-source sum are
    # corpus-bound, so both run in decimal(38,0) (headroom 1e38; same
    # discipline as the classifier gradient sums).  Per-term product:
    # |__cst·lq| ≤ max_c c·ln(N/c)·1e7 = (N/e)·1e7 ≈ 9.2e19 at
    # N = 2.5e13 tokens (≈100 TB of text) — already past 2^63 ≈ 9.2e18.
    # Per-source sum: ≤ (source tokens)·max|lq| ≈ n_s·4.4e8, past 2^63
    # once one source holds ~2e10 tokens.  The quantized lq itself is
    # safe: |lq| ≤ ln(N)·1e7 ≈ 4.4e8.
    term_q = F.col("__cst").cast("decimal(38,0)") * F.round(
        F.log(ratio) * F.lit(1e7)
    ).cast("bigint")
    return (
        per_src.join(corpus, "token")
        .join(F.broadcast(src_tot), source_col)
        .crossJoin(F.broadcast(grand))
        .select(source_col, F.col("__ns"), term_q.alias("__tq"))
        .groupBy(source_col)
        .agg(
            F.max("__ns").cast("bigint").alias("n_tokens"),
            (
                F.sum("__tq").cast("double")
                / (F.lit(1e7) * F.max("__ns").cast("double"))
            ).alias("kl"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks — the
    context-window prep step both RAG indexing and long-document
    training pipelines run before anything embedding- or
    packing-related: ``chunk i`` covers tokens
    ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``.

    The trailing chunk may be shorter (never empty); a document shorter
    than one chunk yields exactly one chunk with all its tokens.
    Chunk ids are dense from 0, so ``(id, chunk_id)`` is a stable key
    for downstream embedding/dedup joins.

    Scale shape: pure per-row ``explode`` over the start-position
    sequence — corpus-linear, shuffle-free, whole-stage codegen (the
    token array is staged once per row and sliced per chunk).  Returns
    (id, chunk_id, n_chunk_tokens, chunk_text).

    Pass ``tokens_col`` to chunk on a PRECOMPUTED token array instead
    of whitespace-splitting ``text_col`` — e.g. :func:`bpe_encode`'s
    ``bpe_tokens``, so chunk budgets count real model tokens.
    ``chunk_text`` is then the space-joined token slice (lossless for
    whitespace tokens; for subword tokens the token slice itself is the
    training payload).  Empty/NULL token arrays are filtered like
    empty text.
    """
    if chunk_tokens < 2 or overlap < 0 or overlap >= chunk_tokens:
        raise ValueError(
            f"chunk_documents: need chunk_tokens >= 2 and 0 <= overlap < "
            f"chunk_tokens, got {chunk_tokens}, {overlap}"
        )
    from rheoceros_spark.operators.scale import ensure_parallelism

    if tokens_col is not None:
        base = ensure_parallelism(
            df.where(
                F.col(id_col).isNotNull() & (F.size(F.col(tokens_col)) > 0)
            ).select(id_col, tokens_col)
        )
        return _chunk_select(base, chunk_tokens, overlap, text_col, id_col, tokens_col)
    base = ensure_parallelism(_chunk_filter(df, text_col, id_col))
    return _chunk_select(base, chunk_tokens, overlap, text_col, id_col)


def _chunk_filter(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """NULL and empty/whitespace-only text are filtered explicitly:
    sequence/greatest over a NULL token array otherwise emits one
    phantom all-NULL chunk per NULL row (and DuckDB's greatest treats
    NULLs differently — the oracle would diverge), and tokens("") is
    [""] so an empty doc would emit one phantom 1-token chunk of "" —
    contradicting token_count's empty-text-is-0-tokens convention and
    leaking a fake token into packing budgets."""
    return df.where(
        F.col(id_col).isNotNull()
        & (F.length(F.coalesce(normalize_text(F.col(text_col)), F.lit(""))) > 0)
    ).select(id_col, text_col)


def _chunk_select(
    base: DataFrame,
    chunk_tokens: int,
    overlap: int,
    text_col: str,
    id_col: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """Shared chunking core (batch + streaming twin): per-row explode
    over the start-position sequence, dense chunk ids, sliced text."""
    stride = chunk_tokens - overlap
    tok_expr = (
        F.col(tokens_col) if tokens_col is not None else tokens(F.col(text_col))
    )
    staged = base.select(
        F.col(id_col), tok_expr.alias("__t")
    ).select(
        F.col(id_col),
        F.col("__t"),
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.lit(1), F.size(F.col("__t")) - F.lit(overlap)),
                F.lit(stride),
            )
        ).alias("__start"),
    )
    piece = F.slice(F.col("__t"), F.col("__start"), chunk_tokens)
    return staged.select(
        F.col(id_col),
        ((F.col("__start") - F.lit(1)) / F.lit(stride)).cast("bigint").alias("chunk_id"),
        F.size(piece).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# subword tokenization: GPT-2-style BPE over a broadcast merge table
# ---------------------------------------------------------------------------

#: Demo BPE merge table (GPT-2's construction at toy scale): rules in
#: training-rank order over common English character pairs.  WELL-FORMED
#: by the BPE training invariant — every operand is a base character or
#: the product of an EARLIER rule — which is exactly what makes
#: sequential rank-order application equivalent to the reference
#: "repeatedly merge the lowest-rank pair present" loop (a later rule
#: can only create symbols that feed later rules, never resurrect an
#: earlier pair).  A production deployment ships its trained 50k-rule
#: table through the same parameter.
BPE_DEMO_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("i", "n"), ("a", "n"), ("o", "n"), ("e", "r"),
    ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"), ("e", "s"),
    ("th", "e"), ("an", "d"), ("in", "g"), ("t", "o"), ("o", "u"),
    ("i", "t"), ("o", "f"), ("a", "l"), ("e", "d"), ("i", "s"),
    ("a", "r"), ("s", "t"), ("l", "e"), ("th", "is"),
]


def _check_merges(merges: list[tuple[str, str]]) -> None:
    """Enforce the well-formedness invariant the equivalence proof
    (sequential == lowest-rank-first) rests on, and the charset the
    generated SQL literals assume."""
    formed: set[str] = set()
    for i, (p1, p2) in enumerate(merges):
        for p in (p1, p2):
            if not p or not p.isalnum() or not p.isascii():
                raise ValueError(
                    f"bpe merge rule {i}: operand {p!r} must be non-empty ASCII "
                    "alphanumeric (it is embedded as a SQL literal)"
                )
            if len(p) > 1 and p not in formed:
                raise ValueError(
                    f"bpe merge rule {i}: operand {p!r} is multi-character but "
                    "no earlier rule forms it — the merge table is not in "
                    "training-rank order, so sequential application would "
                    "diverge from the lowest-rank-first reference loop"
                )
        formed.add(p1 + p2)


def _bpe_word_fold_sql(merges: list[tuple[str, str]]) -> str:
    """One SQL expression merging a word ``w`` (lambda variable) into
    its BPE symbol array: start from characters, then one left-scan
    fold per rule.  Each fold replicates the reference merge pass —
    scan left to right, merge non-overlapping occurrences (a freshly
    merged symbol never re-merges in the same pass because
    ``p1 + p2 != p1`` for non-empty ``p2``).  Built as ONE string for
    the same py4j plan-build-cost reason as ``signature_col``."""
    expr = "filter(split(w, ''), x -> x <> '')"
    for p1, p2 in merges:
        expr = (
            f"aggregate({expr}, cast(array() as array<string>), "
            f"(acc, x) -> CASE WHEN size(acc) > 0 "
            f"AND element_at(acc, -1) = '{p1}' AND x = '{p2}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{p1}{p2}')) "
            f"ELSE concat(acc, array(x)) END)"
        )
    return expr


def bpe_word_fold_duckdb(merges: list[tuple[str, str]]) -> str:
    """The DuckDB twin of :func:`_bpe_word_fold_sql` for oracle
    construction: DuckDB's ``list_reduce`` accumulator must have the
    element type, so the scan state is the symbol list joined on the
    0x1F unit separator (operands are ASCII alnum, so the separator
    can never collide)."""
    _check_merges(merges)
    expr = "list_transform(range(1, length(w) + 1), i -> w[i])"
    for p1, p2 in merges:
        red = (
            f"list_reduce({expr}, (acc, x) -> CASE WHEN "
            f"(acc = '{p1}' OR ends_with(acc, chr(31) || '{p1}')) AND x = '{p2}' "
            f"THEN left(acc, length(acc) - {len(p1)}) || '{p1}{p2}' "
            f"ELSE acc || chr(31) || x END)"
        )
        expr = f"string_split({red}, chr(31))"
    return expr


#: Per-worker-PROCESS BPE memo caches, keyed by merge table: module
#: state survives across Arrow batches within each Python worker
#: (pandas_udf closures are re-pickled per task; imported module state
#: is not), matching GPT-2's process-wide ``lru_cache`` — on
#: repeat-heavy corpora most words hit a batch-transcending cache.
#: Bounded: cleared past ``_BPE_CACHE_MAX`` distinct words so a
#: pathological all-distinct corpus cannot grow worker memory
#: unboundedly.
_BPE_WORKER_CACHES: dict = {}
_BPE_CACHE_MAX = 1_000_000


def _bpe_merge_word(word: str, merges, ranks, cache) -> list[str]:
    """Reference BPE loop (Sennrich 2016 / GPT-2): repeatedly merge the
    lowest-rank adjacent pair present, left-scan non-overlapping.
    Equivalent to the SQL twin's sequential rank-order cascade by the
    well-formedness invariant (see ``BPE_DEMO_MERGES``)."""
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word)
    while len(syms) > 1:
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        p1, p2 = merges[best]
        out = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == p1 and syms[i + 1] == p2:
                out.append(p1 + p2)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    cache[word] = syms
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "arrow",
) -> DataFrame:
    """GPT-2-style BPE subword tokenization: the pre-tokenizer is the
    shared ``BPE_REGEX`` (letter runs / digits / punctuation over
    normalized text), then each pre-token is merged bottom-up from
    characters under the rank-ordered merge table.

    Adds ``bpe_tokens`` (array<string>) and ``n_bpe_tokens`` (bigint);
    NULL/empty text yields an empty array and 0.  This is the
    *model-token* counter the token-budget operators compose with:
    ``chunk_documents(tokens_col="bpe_tokens")``,
    ``pack_sequences(token_col="n_bpe_tokens")``,
    ``budget_mix_select(token_col="n_bpe_tokens")`` all budget in real
    BPE tokens instead of whitespace words.

    Two implementations, bit-identical (parity-tested corpus-wide):

    * ``impl="arrow"`` (default) — what production tokenizer stages run:
      an Arrow-batched Pandas UDF whose closure carries the merge-rank
      dict to every executor (broadcast-via-plan), with a per-worker
      word→tokens memo cache (module-level, so it survives across
      Arrow batches within each worker process; size-bounded) —
      natural-language corpora repeat words heavily, so most lookups
      are O(1) and the Python loop runs only on the distinct-word
      tail (GPT-2's own lru_cache trick).  Still
      shuffle-free and corpus-linear; measured ~57× faster than the
      fold twin at sf0.1 (0.5 s vs 28.8 s).
    * ``impl="sql"`` — pure column algebra: one left-scan higher-order
      fold per rule, merge table as plan literals, zero Python in the
      row path.  The oracle-shaped twin (DuckDB reproduces it exactly)
      and the fallback where Python workers are unavailable; interpreted
      HOF cost makes it the slow path at scale.

    Sequential rank-order application (sql) and lowest-rank-first
    (arrow, the reference loop) are provably the same function on
    well-formed merge tables: a rule's operands are formed only by
    earlier rules, so a later merge can never create an earlier rule's
    pair.  ``_check_merges`` enforces exactly that invariant.

    Reference: Sennrich et al. 2016 (BPE); Radford et al. 2019 §2.2
    (GPT-2's byte-level variant — byte-level pre-tokenization collapses
    to character-level here because ``BPE_REGEX`` is ASCII-classed).
    """
    if merges is None:
        merges = BPE_DEMO_MERGES
    _check_merges(merges)
    from rheoceros_spark.operators.scale import ensure_parallelism

    if impl == "arrow":
        import re as _re

        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, StringType

        # the explicit class matches normalize_text's deliberate
        # [ \t\n\f\r] (RE2's \s — NO vertical tab; Python's ASCII \s
        # would include \x0B and silently diverge on \x0B-bearing text,
        # the exact trap test_portable_parity pins for the engines)
        ws = _re.compile(r"[ \t\n\f\r]+")
        pre = _re.compile(BPE_REGEX, _re.ASCII)
        merges_t = tuple(merges)
        ranks = {p: i for i, p in enumerate(merges_t)}

        # no type annotations: pandas is imported function-locally, so
        # hint strings would not resolve; the explicit returnType call
        # form pins the (Series -> Series) scalar eval type instead
        def _bpe_batch(batch):
            # module-level per-worker cache (see _BPE_WORKER_CACHES):
            # one merges_t hash per BATCH, then plain dict lookups
            cache = _BPE_WORKER_CACHES.setdefault(merges_t, {})
            if len(cache) > _BPE_CACHE_MAX:
                cache.clear()

            def one(text):
                if text is None:
                    return []
                # strip(' ') — NOT bare strip(): Spark's trim (the sql
                # twin / DuckDB oracle) removes only ASCII spaces, while
                # Python strip() eats \x0b, \x1c-\x1f, \xa0, Unicode
                # spaces at the edges and would silently break the
                # bit-identical parity contract on such text (after
                # ws.sub the only edge char trim touches is ' ')
                norm = ws.sub(" ", text.lower()).strip(" ")
                if not norm:
                    return []
                out: list[str] = []
                for w in pre.findall(norm):
                    out.extend(_bpe_merge_word(w, merges_t, ranks, cache))
                return out

            return batch.map(one)

        # explicit returnType call form: type-hint inference can't see
        # the function-local pandas import
        _bpe = pandas_udf(_bpe_batch, ArrayType(StringType()))

        # fan before the Arrow boundary (r14): a single-file corpus
        # otherwise feeds ONE python worker; no-op on pre-split input
        out = ensure_parallelism(df).withColumn(
            "bpe_tokens", _bpe(F.col(text_col))
        )
    elif impl == "sql":
        norm = normalize_text(F.col(text_col))
        words = F.when(
            F.col(text_col).isNull() | (F.length(norm) == 0),
            F.array().cast("array<string>"),
        ).otherwise(F.regexp_extract_all(norm, F.lit(BPE_REGEX), F.lit(0)))
        fold = _bpe_word_fold_sql(merges)
        out = ensure_parallelism(df).withColumn("__bpe_words", words).withColumn(
            "bpe_tokens", F.expr(f"flatten(transform(__bpe_words, w -> {fold}))")
        ).drop("__bpe_words")
    else:
        raise ValueError(f"bpe_encode: impl must be 'arrow' or 'sql', got {impl!r}")
    return out.withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("bigint"))


def _bpe_apply_pair_sql(sym_expr: str, p1: str, p2: str) -> str:
    """One left-scan merge pass of the single pair ``(p1, p2)`` over a
    symbol-array SQL expression — the per-round body of the training
    loop (the same fold :func:`_bpe_word_fold_sql` chains once per rule
    of a FIXED table).  Operands are validated ASCII-alnum, so the
    embedded literals cannot break out."""
    for p in (p1, p2):
        if not p or not p.isalnum() or not p.isascii():
            raise ValueError(f"bpe pair operand {p!r} must be ASCII alphanumeric")
    return (
        f"aggregate({sym_expr}, cast(array() as array<string>), "
        f"(acc, x) -> CASE WHEN size(acc) > 0 "
        f"AND element_at(acc, -1) = '{p1}' AND x = '{p2}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{p1}{p2}')) "
        f"ELSE concat(acc, array(x)) END)"
    )


#: merge rounds between re-checkpoints of the bpe_train symbol state
_BPE_CHECKPOINT_EVERY = 8


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, str]]:
    """Train a BPE merge table on the corpus — the TRAINING half of the
    tokenizer story (:func:`bpe_encode` applies a table; this learns
    one), the standard algorithm (Sennrich et al. 2016 §3.2): start
    from characters, repeatedly merge the globally most-frequent
    adjacent symbol pair, ``n_merges`` times.

    Scale shape — the part that matters at 100 TB: the corpus is
    scanned ONCE, into a **distinct-word count table** (``BPE_REGEX``
    pre-tokens → groupBy(word).count()) — vocabulary-sized, orders of
    magnitude smaller than the corpus, and the only state the loop
    touches (GPT-2 trained exactly this way: counts first, merges on
    the counts).  Each round is then one pair-explode + map-side-
    combined groupBy over the vocab table, one **single-row** argmax
    collect (``cnt DESC, a, b`` — integer counts + lexicographic
    tie-break, so every engine picks the same pair), and one codegen'd
    fold applying the merge; the symbol state re-checkpoints every
    8 rounds (``_BPE_CHECKPOINT_EVERY``) so the plan never grows
    unboundedly.
    Driver state is one (a, b) pair per round — scalars, never data.

    The pre-tokenizer isolates punctuation into single-character
    pre-tokens, so every multi-symbol word is alphanumeric and the
    learned operands automatically satisfy :func:`_check_merges`'
    ASCII-alnum contract; candidate pairs are alnum-filtered anyway as
    a defensive invariant.  Returns the merge list in training-rank
    order — by construction every multi-char operand was formed by an
    earlier rule, so the output always passes ``_check_merges`` and
    feeds straight into :func:`bpe_encode`.

    Training stops early when no pair repeats (every word fully
    merged); the table then has fewer than ``n_merges`` rules.

    Reference: reference slot surface runs arbitrary tokenizer-training
    code (api_ext.py:107-190); Sennrich et al. 2016; Radford et al.
    2019 §2.2.
    """
    if n_merges < 1:
        raise ValueError(f"bpe_train: n_merges must be >= 1, got {n_merges}")
    norm = normalize_text(F.col(text_col))
    words = F.when(
        F.col(text_col).isNull() | (F.length(norm) == 0),
        F.array().cast("array<string>"),
    ).otherwise(F.regexp_extract_all(norm, F.lit(BPE_REGEX), F.lit(0)))
    wc = checkpoint(
        df.where(F.col(id_col).isNotNull())
        .select(F.explode(words).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
        .select(
            F.expr("filter(split(__w, ''), x -> x <> '')").alias("__syms"),
            F.col("__cnt"),
        )
    )
    merges: list[tuple[str, str]] = []
    for r in range(n_merges):
        pairs = (
            wc.where(F.size("__syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__syms) - 1), i -> "
                        "struct(element_at(__syms, i) AS a, "
                        "element_at(__syms, i + 1) AS b))"
                    )
                ).alias("__p"),
                "__cnt",
            )
            .select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"), "__cnt")
            .where(
                F.col("a").rlike("^[A-Za-z0-9]+$") & F.col("b").rlike("^[A-Za-z0-9]+$")
            )
            .groupBy("a", "b")
            .agg(F.sum("__cnt").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        # a pair that appears only once gains nothing by merging and
        # (for cross-word singletons) would make the rank order
        # corpus-partitioning-independent only via the tie-break; stop
        # at frequency 1 like reference implementations do
        if not top or top[0].cnt < 2:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        wc = wc.withColumn("__syms", F.expr(_bpe_apply_pair_sql("__syms", a, b)))
        if (r + 1) % _BPE_CHECKPOINT_EVERY == 0:
            wc = checkpoint(wc)
    return merges


#: merge-table scheme recorded in persisted tokenizer artifacts — bump
#: if the fold semantics or the pre-tokenizer ever change, so a stale
#: artifact fails loudly instead of silently re-tokenizing differently
BPE_TABLE_ALGO = "bpe_merge_v1"


def bpe_table_write(
    spark,
    merges: list[tuple[str, str]],
    path: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist a trained merge table as the TOKENIZER ARTIFACT — the
    train-once / tokenize-everywhere split every production pipeline
    runs (the tokenizer is versioned and shipped; re-training per job
    would silently change every token id downstream).  Completes the
    BPE family's artifact story the way ``ivf_write`` / ``logreg``
    weight frames did for ANN and the classifiers.

    Layout: (rank, lhs, rhs, bpe_algo) — rank is the training order the
    sequential-fold equivalence proof depends on; the scheme tag makes
    :func:`bpe_table_read` reject artifacts written under different
    fold semantics.  The table is validated (``_check_merges``) BEFORE
    writing: a malformed artifact should fail its producer, not every
    future consumer.

    Pass ``path=None`` for the unpersisted frame (custom sinks)."""
    _check_merges(merges)
    tbl = spark.createDataFrame(
        [(i, a, b, BPE_TABLE_ALGO) for i, (a, b) in enumerate(merges)],
        "rank int, lhs string, rhs string, bpe_algo string",
    )
    if path is not None:
        tbl.write.mode(mode).parquet(path)
        return spark.read.parquet(path)
    return tbl


def bpe_table_read(table: DataFrame) -> list[tuple[str, str]]:
    """Load + validate a persisted merge table back into the list form
    :func:`bpe_encode` / :func:`bpe_fertility` take.  Loud-mismatch
    discipline (the ``_check_index_params`` convention): wrong columns,
    a foreign ``bpe_algo`` tag, non-contiguous or duplicate ranks, and
    out-of-training-order operands each raise with the reason — a
    silently mis-ordered table would tokenize VALIDLY but differently,
    the worst failure mode a tokenizer artifact can have.

    The collect is the artifact, not data: merge tables are ≤ ~100k
    rows (vocab-size-shaped) — the same bounded-artifact class as
    centroids and classifier weights."""
    missing = {"rank", "lhs", "rhs"} - set(table.columns)
    if missing:
        raise ValueError(
            f"bpe merge table is missing column(s) {sorted(missing)} — "
            "expected the (rank, lhs, rhs) layout written by bpe_table_write"
        )
    if "bpe_algo" in table.columns:
        algos = sorted(
            r[0] for r in table.select("bpe_algo").distinct().collect() if r[0]
        )
        if algos and algos != [BPE_TABLE_ALGO]:
            raise ValueError(
                f"bpe merge table carries bpe_algo values {algos!r}, this "
                f"engine applies {BPE_TABLE_ALGO!r} — a foreign fold scheme "
                "would tokenize differently; rebuild the artifact"
            )
    rows = table.select("rank", "lhs", "rhs").collect()
    ranks = sorted(r["rank"] for r in rows)
    if ranks != list(range(len(rows))):
        raise ValueError(
            f"bpe merge table ranks must be exactly 0..{len(rows) - 1} "
            f"(got {ranks[:5]}{'...' if len(ranks) > 5 else ''}) — gaps or "
            "duplicates mean rules were lost or doubled and the sequential "
            "fold would diverge from training order"
        )
    merges = [
        (r["lhs"], r["rhs"]) for r in sorted(rows, key=lambda r: r["rank"])
    ]
    _check_merges(merges)
    return merges


def bpe_fertility(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-efficiency report per group: **fertility** (BPE tokens
    per whitespace word — THE standard subword-tokenizer quality metric;
    ~1.2–1.5 for a well-fitted vocabulary, higher means the tokenizer
    fragments this group's text) and **chars_per_token** (compression),
    with the exact integer totals behind both.  Run per source or per
    language to see which corpus slices a trained merge table serves
    poorly — the evaluation loop for :func:`bpe_train`, the same way
    :func:`~rheoceros_spark.operators.similarity.retrieval_metrics`
    closes the retrieval loop.

    Word totals use the token_count conventions (empty text = 0 words;
    ``length(norm) − (n_words − 1)`` recovers summed word chars without
    a per-word fold); ratios are ``·1e6 div``-quantized on exact BIGINT
    sums, NULL when the denominator group is empty.

    Scale shape: the BPE encode is the per-row Arrow stage
    (:func:`bpe_encode`, corpus-linear, shuffle-free); everything after
    is one map-side-combined groupBy to a groups-sized frame.

    Reference-extension operator (SURVEY.md §2.12).
    """
    enc = bpe_encode(
        df.where(F.col(id_col).isNotNull()), merges, text_col=text_col, id_col=id_col
    )
    norm = normalize_text(F.col(text_col))
    n_words = F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(tokens(F.col(text_col)))
    ).cast("long")
    word_chars = F.when(
        n_words > 0, F.length(norm).cast("long") - (n_words - F.lit(1))
    ).otherwise(F.lit(0))
    per = (
        enc.withColumn("__nw", n_words)
        .withColumn("__wc", word_chars)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # overflow: the largest of these totals is bounded by the
            # corpus byte count (chars ≥ words ≥ docs; BPE tokens ≤
            # chars) — ≈1e14 at 100 TB of text, under 2^63 by 4+ orders
            # of magnitude; bigint sums are safe.
            F.sum("__nw").cast("bigint").alias("total_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
            F.sum("__wc").cast("bigint").alias("total_word_chars"),
        )
    )
    return per.select(
        group_col,
        "n_docs",
        "total_words",
        "total_bpe_tokens",
        "total_word_chars",
        F.when(
            F.col("total_words") > 0,
            F.expr("total_bpe_tokens * 1000000L div total_words").cast("double")
            / F.lit(1e6),
        ).alias("fertility"),
        F.when(
            F.col("total_bpe_tokens") > 0,
            F.expr("total_word_chars * 1000000L div total_bpe_tokens").cast("double")
            / F.lit(1e6),
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# fasttext/CCNet-style quality classifier: hashed bag-of-tokens features,
# distributed logistic-regression training, linear scoring
# ---------------------------------------------------------------------------

#: sigmoid lookup grid: logit resolution 0.01, clamped to ±8 (σ is
#: within 3.4e-4 of its asymptote past that).  The table is computed
#: ONCE driver-side and embedded as the same literal in the Spark plan
#: and the SQL oracle — neither engine ever calls exp(), whose libm
#: rounding is NOT specified by IEEE 754 and differs between Java and
#: C (the reason a naive distributed LR can never be bit-reproduced).
SIGMOID_CLAMP_Q = 800  # grid units of 0.01


def sigmoid_lut_q() -> list[int]:
    """σ(k/100) quantized to the 1e-7 integer grid for k in
    [-800, 800] — 1601 ints, ~13 KB as a plan literal."""
    import math

    return [
        int(round(1e7 / (1.0 + math.exp(-k / 100.0))))
        for k in range(-SIGMOID_CLAMP_Q, SIGMOID_CLAMP_Q + 1)
    ]


def _int_array_lit(values, element_type: str):
    """Integer literal array built in ONE parser call.

    ``F.lit(list)`` issues one py4j roundtrip per element — measured
    0.6-0.8 s of pure driver latency for the 1601-entry LUTs, paid on
    EVERY classifier build (r14).  Rendering the list as SQL text and
    parsing it once costs ~1 ms; the explicit element cast pins the
    exact type the old per-element ``lit`` produced (py4j maps small
    Python ints to Java Integer, large ones to Long), so downstream
    arithmetic and plans are unchanged."""
    if not values:
        return F.array().cast(f"array<{element_type}>")
    return F.expr("array(" + ",".join(map(str, values)) + ")").cast(
        f"array<{element_type}>"
    )


def hashed_token_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Hashed bag-of-tokens features: (id, bucket, cnt) rows, one per
    (document, occupied bucket), plus an implicit bias feature as
    bucket −1 with count 1 for every document (so NULL/empty-text
    documents still carry the intercept).  Counts are exact integers —
    the base of the trainer's engine-reproducible arithmetic.  The
    hashing-trick feature map of fasttext (Joulin et al. 2016) /
    Weinberger et al. 2009, on the portable seeded h64."""
    base = df.where(F.col(id_col).isNotNull())
    toks = base.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t")
    ).where(F.col("__t") != "")
    counts = (
        toks.select(
            F.col(id_col), (h64(F.col("__t"), seed=seed) % n_buckets).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    bias = base.select(
        F.col(id_col),
        F.lit(-1).cast("int").alias("bucket"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    return counts.select(id_col, F.col("bucket").cast("int"), "cnt").unionByName(bias)


FEAT_NORM_SCALE = 10_000  # L1-normalized feature grid (1e-4)

def _train_sample_gate(
    df: DataFrame, id_col: str, train_frac: float | None, sample_seed: int
) -> DataFrame:
    """CCNet-style bounded-training gate: keep a deterministic
    ``train_frac`` fraction of rows keyed on ``id_col`` (Wenzek et al.
    2020 §3.2 train the classifier/LM on a FIXED sample and score the
    whole crawl — at 100 TB nobody trains a linear filter on the full
    corpus).  IS ``curation.hash_sample`` — delegated, not replicated
    (curation's imports of this module are function-local, so the
    deferred import below is cycle-free), so the bucket space, the
    round()-threshold rule, and the seeded-hash construction have one
    home and the DuckDB oracle gate can never desynchronize from the
    sampling operator.  Decisions are a pure function of the id:
    reproducible across engines/retries, subset-monotone (frac 0.1 ⊂
    frac 0.2)."""
    if train_frac is None:
        return df
    if not (0.0 < train_frac <= 1.0):
        raise ValueError(
            f"train_frac must be in (0, 1] or None, got {train_frac}"
        )
    from rheoceros_spark.operators.curation import SAMPLE_BUCKETS, hash_sample

    # the bucket space quantizes rates to 1e-6: a fraction that rounds
    # to a zero threshold selects NOTHING, and the downstream
    # empty-training error would point at the data, not the rate —
    # fail here, naming the resolution (a fixed-budget caller at
    # extreme corpus sizes should cap the budget, not the resolution)
    if round(train_frac * SAMPLE_BUCKETS) == 0:
        raise ValueError(
            f"train_frac={train_frac} is below the sampling gate's "
            f"1/{SAMPLE_BUCKETS} resolution (threshold rounds to 0 — "
            "the training set would be empty)"
        )
    return hash_sample(df, train_frac, key_col=id_col, seed=sample_seed)


#: Spark-SQL rendering of ``filter(tokens(c), t -> t != '')`` — the
#: whitespace class is the literal chars of portable.normalize_text
#: (see its \x0B note), embedded raw so no SQL-escape layer can drift
_WORDS_SQL = (
    "filter(split(trim(regexp_replace(lower({c}), '[ \t\n\f\r]+', ' ')), ' '), "
    "__w -> __w != '')"
)


def _quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _subword_expr_sql(text_sql: str, lo: int, hi: int) -> str:
    """Spark-SQL expression for the fastText subword feature-string
    array: the non-empty word tokens plus every char n-gram of each
    boundary-marked token (``<w>`` — Bojanowski et al. 2017 §3.2, so
    prefixes/suffixes hash distinctly from infixes) for n in [lo, hi].

    ONE SQL expression with explicitly-named lambda variables (one
    name per n) on purpose: building the same shape from sibling
    ``F.transform(..., lambda ...)`` calls cross-wires Catalyst's
    auto-named lambda variables between the sibling subtrees and
    silently yields garbage grams.  The empty-when-short case is an
    explicit CASE because ``sequence(1, 0)`` DESCENDS instead of
    emptying.  DuckDB twin: __spark_entry__._subword_feats_sql."""
    return _subword_from_words_sql(_WORDS_SQL.format(c=text_sql), lo, hi)


def _subword_from_words_sql(words_sql: str, lo: int, hi: int) -> str:
    """:func:`_subword_expr_sql` over an ALREADY-TOKENIZED word array
    expression (usually a projected ``__words`` column).  Split out in
    r14: inlining the full normalize+split+filter chain once per n made
    the expression — and its codegen unit — (hi−lo+2)× bigger than
    needed, tokenizing every row once per n at runtime and costing
    seconds of wholestage compile per plan (measured 5.1 s cold on the
    lang-classifier train DAG).  Callers project the word array once
    and reference it here; CollapseProject keeps a multi-referenced
    non-cheap alias projected, so the tokenization really does run once
    per row."""
    parts = [words_sql]
    for n in range(lo, hi + 1):
        pad = f"concat('<', __t{n}, '>')"
        parts.append(
            f"flatten(transform({words_sql}, __t{n} -> "
            f"CASE WHEN length({pad}) >= {n} "
            f"THEN transform(sequence(1, length({pad}) - {n - 1}), "
            f"__i{n} -> substring({pad}, __i{n}, {n})) "
            f"ELSE array() END))"
        )
    return "concat(" + ", ".join(parts) + ")"


def _feature_strings(text_col: str, ngram_range: tuple[int, int] | None) -> Column:
    """The per-document feature-string array for the named text
    column: the normalized word tokens, plus — with
    ``ngram_range=(lo, hi)`` — every boundary-marked char n-gram of
    every token for n in [lo, hi] (the fastText subword scheme;
    word-hash features alone under-detect short and agglutinative
    text).  All strings feed the SAME seeded-hash bucket space
    downstream, so subword mode changes what gets hashed and nothing
    else."""
    if ngram_range is None:
        return F.filter(tokens(F.col(text_col)), lambda t: t != "")
    lo, hi = ngram_range
    if not (1 <= lo <= hi):
        raise ValueError(
            f"ngram_range must satisfy 1 <= lo <= hi, got {ngram_range}"
        )
    return F.expr(_subword_expr_sql(_quote_ident(text_col), lo, hi))


def hashed_token_features_norm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
    ngram_range: tuple[int, int] | None = None,
) -> DataFrame:
    """L1-NORMALIZED hashed bag-of-tokens: (id, bucket, cnt_q) with
    ``cnt_q = cnt·1e4 div n_tokens(doc)`` — the integer form of
    fastText's mean pooling (Joulin et al. 2016 average the token
    vectors; unnormalized counts saturate a clamped softmax on long
    documents, collapsing multiclass training).  The bias row (bucket
    −1) carries cnt_q = 1e4 ≡ 1.0, so token-free documents still have
    the intercept.  All values are exact integers; a document's token
    features sum to ≤ 1e4 (floor division loses < n_buckets grid
    units).

    ``ngram_range=(lo, hi)`` switches to fastText SUBWORD features:
    the bag is the word tokens plus every boundary-marked char n-gram
    (see :func:`_feature_strings`); normalization then divides by the
    total gram count.  Corpus text is hashed char-by-char identically
    in Spark and DuckDB for codepoint-clean input (both engines'
    substring/length count characters) — the oracle twin lives in
    __spark_entry__._lang_classifier_oracle."""
    base = df.where(F.col(id_col).isNotNull())
    if ngram_range is not None:
        # subword mode multiplies per-row CPU ~12× (gram explode + one
        # md5 per gram); a narrow scan must fan out to cluster width
        # first or the whole expansion serializes onto one core
        # (measured: the sf0.1 single-file scan cost 11.4 s here).
        # No-op on wide inputs — see ensure_parallelism's split probe.
        from rheoceros_spark.operators.scale import ensure_parallelism

        base = ensure_parallelism(base)
    # r14 single-scan fusion (guide §2.4 "remove shuffles outright",
    # §6 scan once): the bias feature used to be a SECOND corpus scan
    # unioned in after normalization, which (a) re-read and re-fanned
    # the id column and (b) broke the id co-partitioning the per-doc
    # window had just established, forcing every downstream
    # groupBy(id) consumer (trainer logits, scorer argmax) to
    # re-exchange the corpus.  The feature-string array never contains
    # '' (words are filtered non-empty; boundary-marked grams have
    # length ≥ 2), so '' is a safe in-band bias sentinel: append it to
    # every doc's array (coalesce keeps NULL-text docs alive with just
    # the sentinel) and map it to bucket −1 after the explode.  One
    # scan, one explode, and the window's hashpartitioning(id) now
    # flows through to downstream groupBy(id) aggregates unbroken.
    # Duplicate-id frames: the k bias rows merge into one with cnt = k
    # and cnt_q = k·1e4 — every downstream Σ wq·cnt_q is unchanged
    # (the batch contract has always been duplicate-ids-pool-features).
    if ngram_range is None:
        farr = _feature_strings(text_col, ngram_range)
    else:
        lo, hi = ngram_range
        if not (1 <= lo <= hi):
            raise ValueError(
                f"ngram_range must satisfy 1 <= lo <= hi, got {ngram_range}"
            )
        # project the tokenized word array ONCE, then expand grams over
        # the projected column — the previous single-expression form
        # re-tokenized every row (hi−lo+2)× and codegen'd the whole
        # chain per n (see _subword_from_words_sql)
        base = base.select(
            F.col(id_col),
            F.expr(_WORDS_SQL.format(c=_quote_ident(text_col))).alias(
                "__words"
            ),
        )
        farr = F.expr(_subword_from_words_sql("__words", lo, hi))
    toks = base.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.coalesce(farr, F.expr("array()")), F.array(F.lit(""))
            )
        ).alias("__t"),
    )
    counts = (
        toks.select(
            F.col(id_col),
            F.when(F.col("__t") == "", F.lit(-1).cast("bigint"))
            .otherwise(h64(F.col("__t"), seed=seed) % n_buckets)
            .alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # per-doc token total via the Column API (interpolating id_col raw
    # into a window SQL string breaks on names needing backticks); the
    # exact integer div stays in F.expr over fixed internal aliases
    # only.  The total EXCLUDES the bias row (it normalizes token mass
    # only), and the bias row bypasses the division entirely — both
    # exactly as the two-branch shape computed them.
    tot_w = Window.partitionBy(F.col(id_col))
    return counts.withColumn(
        "__tot",
        F.sum(
            F.when(F.col("bucket") == -1, F.lit(0)).otherwise(F.col("cnt"))
        ).over(tot_w),
    ).select(
        F.col(id_col),
        F.col("bucket").cast("int").alias("bucket"),
        F.expr(
            f"CASE WHEN bucket = -1 THEN cnt * {FEAT_NORM_SCALE}L "
            f"ELSE cnt * {FEAT_NORM_SCALE}L div __tot END"
        )
        .cast("bigint")
        .alias("cnt_q"),
    )


def _clamped_sigma_q(logit_q_col, lut_lit):
    """σ(logit) on the 1e-7 grid via the broadcast LUT: floor (exact on
    doubles, unlike decimal round whose half-up/half-even split between
    engines was the round-6 DSIR bug) + clamp + 1-based lookup."""
    z100 = F.floor(
        (logit_q_col.cast("double") / F.lit(1e7)) * F.lit(100.0)
    ).cast("bigint")
    k = F.greatest(
        F.lit(-SIGMOID_CLAMP_Q).cast("bigint"),
        F.least(F.lit(SIGMOID_CLAMP_Q).cast("bigint"), z100),
    )
    return F.element_at(lut_lit, (k + F.lit(SIGMOID_CLAMP_Q + 1)).cast("int"))


def logreg_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    iters: int = 2,
    lr: float = 0.5,
    seed: int = 0,
    train_frac: float | None = None,
    sample_seed: int = 0,
) -> DataFrame:
    """Distributed full-batch logistic-regression training over hashed
    token features — the quality-filter trainer of the GPT-3 / CCNet
    lineage (a linear classifier separating 'looks like the curated
    target' from 'raw crawl'), with the same engine-bit-exactness
    contract as the k-means trainer:

    * weights live on the 1e-7 integer grid, so per-document logits are
      exact BIGINT dot products (``Σ wq·cnt`` commutes in any
      aggregation order);
    * σ comes from the broadcast :func:`sigmoid_lut_q` table — no
      ``exp()`` in either engine (libm rounding is engine-specific);
    * the gradient ``Σ (σq − y·1e7)·cnt`` per bucket is again an exact
      integer aggregate with map-side combine;
    * the update re-quantizes through ``floor`` (exact on doubles),
      never decimal rounding.

    Scale shape per round: one broadcast join of the ≤(n_buckets+1)-row
    weight table into the feature stream, one groupBy(id) logit
    aggregate, one groupBy(bucket) gradient aggregate — two corpus-
    linear shuffles, nothing data-sized on the driver; the feature
    frame is materialized once (lazy localCheckpoint) and reused by
    every round.  Returns the trained (bucket, wq) table — wq in 1e-7
    grid units, bucket −1 is the bias.

    ``train_frac`` bounds the TRAINING read (the :func:`_train_sample_gate`
    deterministic-hash sample on ``id_col``): weights are learned from
    the sampled slice while callers score the whole corpus — the CCNet
    split (a fixed training set, crawl-wide scoring).  A FIXED fraction
    scales with the corpus; for a truly flat training stage pass
    ``train_frac = budget_rows / corpus_rows`` — the gate is
    subset-monotone, so shrinking fractions nest inside earlier
    samples.  The gate's resolution is 1e-6 (fractions are quantized
    to the hash-bucket space and a sub-resolution fraction is
    rejected, not silently emptied), so at extreme corpus sizes size
    the budget to keep ``train_frac ≥ ~1e-5``.  None (default) trains
    on everything.
    """
    if iters < 0 or n_buckets < 1:
        raise ValueError(
            f"logreg_train: need iters >= 0 and n_buckets >= 1, got {iters}, {n_buckets}"
        )
    df = _train_sample_gate(df, id_col, train_frac, sample_seed)
    spark = df.sparkSession
    feats = checkpoint(hashed_token_features(df, text_col, id_col, n_buckets, seed))
    labels = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col), F.col(label_col).cast("bigint").alias("__y")
    )
    n = labels.count()  # one scalar action, like the k-means convergence probes
    if n == 0:
        raise ValueError("logreg_train: empty training frame")
    lut = _int_array_lit(sigmoid_lut_q(), "int")
    # r14 driver-update rewrite (guide §5 driver discipline): the weight
    # table is MODEL-sized (n_buckets+1 rows, KBs at any corpus scale),
    # so the round update runs on the driver — one bounded collect of
    # the gradient aggregate per round — instead of a per-round
    # DataFrame join + lazy localCheckpoint, whose toRdd planning cost
    # (~1 s per round, pure driver latency) and broadcast-build jobs
    # dominated the training fixed cost.  The update arithmetic is the
    # SAME IEEE sequence the old in-plan expression ran —
    # float(decimal) · lr / n, floored — so every weight is
    # bit-identical (decimal→double is correctly rounded in both
    # engines; parity pinned by the existing oracle rows).
    import math

    cur = {b: 0 for b in range(-1, n_buckets)}
    for _ in range(iters):
        w = local_frame(spark, sorted(cur.items()), "bucket int, wq bigint")
        logits = (
            feats.join(F.broadcast(w), "bucket")
            .groupBy(id_col)
            .agg(F.sum(F.col("wq") * F.col("cnt")).alias("__lq"))
        )
        resid = logits.join(labels, id_col).select(
            F.col(id_col),
            (_clamped_sigma_q(F.col("__lq"), lut) - F.col("__y") * F.lit(10_000_000)).alias(
                "__rq"
            ),
        )
        # the per-row product fits BIGINT easily (|__rq| ≤ 1e7 × bucket
        # token count), but the per-bucket SUM spans the whole corpus —
        # accumulate as decimal(38,0) so a 1e9-doc training frame can't
        # silently wrap a 64-bit sum under non-ANSI Spark (the update
        # only ever consumes __gq through a double cast, so widening
        # the accumulator changes no bits at any scale below 2^53/lr·n)
        grads = (
            resid.join(feats, id_col)
            .groupBy("bucket")
            .agg(
                F.sum(
                    (F.col("__rq") * F.col("cnt")).cast("decimal(38,0)")
                ).alias("__gq")
            )
        )
        for row in grads.collect():
            cur[row["bucket"]] -= math.floor(
                float(row["__gq"]) * lr / float(n)
            )
    return local_frame(spark, sorted(cur.items()), "bucket int, wq bigint")


def quality_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
    logit_threshold: float = 0.0,
) -> DataFrame:
    """Score documents under a trained :func:`logreg_train` weight
    table: ``logit = (Σ wq·cnt)/1e7`` (exact integer dot product, one
    IEEE division — no re-round), ``keep = logit ≥ threshold``.  The
    threshold is in LOGIT space on purpose: σ is monotonic, so a
    probability cut σ(z) ≥ p is exactly z ≥ ln(p/(1−p)) — the scorer
    never needs the sigmoid at all, keeping the 100 TB scoring pass
    pure integer/broadcast arithmetic.  Returns (id, logit, keep)."""
    feats = hashed_token_features(df, text_col, id_col, n_buckets, seed)
    logits = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("wq") * F.col("cnt")).alias("__lq"))
    )
    return logits.select(
        F.col(id_col),
        (F.col("__lq").cast("double") / F.lit(1e7)).alias("logit"),
        F.when(
            F.col("__lq").cast("double") / F.lit(1e7) >= F.lit(logit_threshold),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("keep"),
    )


EXP_CLAMP_Q = 800  # grid units of 0.01 → logits clamp to [-8, 8]
EXP_SCALE = 1_000_000


def exp_lut_q() -> list[int]:
    """e^(k/100) scaled to 1e6 integers for k in [-800, 800] — 1601
    ints (max e^8·1e6 ≈ 2.98e9, comfortably BIGINT), ~15 KB as a plan
    literal.  The softmax counterpart of :func:`sigmoid_lut_q`: no
    ``exp()`` runs in either engine, so the softmax numerators are
    identical integers everywhere."""
    import math

    return [
        int(round(math.exp(k / 100.0) * EXP_SCALE))
        for k in range(-EXP_CLAMP_Q, EXP_CLAMP_Q + 1)
    ]


#: e^v on the 1e6 grid for a logit ``v`` on the 1e-11 grid (1e-7
#: weights × 1e-4 features), read from the model row's ``lut`` table —
#: floor (exact on doubles) + clamp + 1-based lookup, the
#: :func:`_clamped_sigma_q` discipline as SQL text (``D`` literals are
#: doubles; a bare ``100.0`` would be a decimal)
_EXP_Q_SQL = (
    f"element_at(__m.lut, CAST(greatest(-{EXP_CLAMP_Q}L, least({EXP_CLAMP_Q}L, "
    "CAST(floor((CAST(v AS DOUBLE) / 1E11D) * 100D) AS BIGINT))) "
    f"+ {EXP_CLAMP_Q + 1} AS INT))"
)


def lang_classifier_train(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    iters: int = 2,
    lr: float = 0.5,
    seed: int = 0,
    classes: list[str] | None = None,
    train_frac: float | None = None,
    sample_seed: int = 0,
    ngram_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Distributed multiclass (softmax) logistic regression over hashed
    token features — the TRAINED language classifier of the CCNet
    pipeline (Wenzek et al. 2020 §3.2 uses a fastText model; this is
    its linear bag-of-hashed-tokens equivalent, trainable and scorable
    entirely inside the engine), generalizing :func:`logreg_train`
    from sigmoid to softmax under the same bit-exactness contract:

    * features are the L1-normalized integer counts of
      :func:`hashed_token_features_norm` (fastText mean pooling —
      unnormalized counts saturate the clamped softmax on long
      documents), so per-(doc, class) logits are exact BIGINT dot
      products on the 1e-11 grid (1e-7 weights × 1e-4 features) and
      bounded by the weight range, never by document length;
    * softmax numerators come from the :func:`exp_lut_q` table (no
      libm ``exp`` in either engine) and the probabilities are integer
      ratios ``expq·1e7 div Σ expq`` — all operands non-negative, so
      Spark ``div`` and DuckDB ``//`` agree;
    * the per-(class, bucket) gradient ``Σ (pq − y·1e7)·cnt`` is an
      exact integer aggregate with map-side combine;
    * updates re-quantize through ``floor`` (exact on doubles) on the
      driver — the weight table is model-sized, K·(n_buckets+1) rows.

    Scale shape: the features are built once.  The
    :func:`hashed_token_features_norm` rows are grouped into one
    ``array<struct<bucket, cnt_q>>`` per document, the labels are
    joined to them once, and the resulting (label, features) rows are
    materialized by :func:`~rheoceros_spark.operators.scale.observed_checkpoint`,
    whose same pass yields the row count ``n`` and, when ``classes``
    is unset, the label set.  The duplicate-id contract of
    :func:`hashed_token_features_norm` still holds: rows sharing an id
    pool their features, and each of their labels trains against the
    pooled array.  Each round reads ONE LocalRelation row — the flat
    K·(n_buckets+1) weight array (K class lanes per bucket), the exp
    LUT and the class list, as data rather than plan literals —
    through a scalar subquery, which runs no job; the K logits, the
    softmax and the K residuals are row-local array folds, and the
    round ends in one groupBy(class, bucket) gradient aggregate (one
    sample-linear shuffle) and one model-sized collect: two jobs per
    round.  Nothing data-sized reaches the driver.

    ``classes`` defaults to the sorted distinct non-NULL labels of the
    training rows.  Returns the trained (class, bucket, wq) table as a
    LocalRelation; bucket −1 is the per-class bias.

    ``train_frac`` bounds the TRAINING read (the
    :func:`_train_sample_gate` deterministic-hash sample on
    ``id_col``): the CCNet split — train on a fixed sample, score the
    crawl (Wenzek et al. 2020 §3.2) — so scoring scales corpus-linear
    while training reads only the sample.  A FIXED fraction still
    scales with the corpus; for a truly flat training stage pass
    ``train_frac = budget_rows / corpus_rows`` (the gate is
    subset-monotone, so shrinking fractions nest; resolution 1e-6 —
    sub-resolution fractions are rejected, see
    :func:`_train_sample_gate`).  With
    sampling on and ``classes`` unset, the class set is the distinct
    labels OF THE SAMPLE — pass ``classes`` explicitly if rare labels
    must survive a thin sample.  None (default) trains on everything.
    Mind the absolute sample size: the bias feature carries the full
    L1 mass (cnt_q = 1e4), so at a few dozen sampled docs the sample's
    class-count jitter feeds it a prior signal that a couple of GD
    steps cannot out-train — hundreds of docs per class washes it out
    (tested), and real corpora sample millions.
    """
    if iters < 0 or n_buckets < 1:
        raise ValueError(
            f"lang_classifier_train: need iters >= 0 and n_buckets >= 1, "
            f"got {iters}, {n_buckets}"
        )
    if classes is not None and not classes:
        raise ValueError("lang_classifier_train: empty class set")
    import json
    import math

    spark = df.sparkSession
    base = df.where(F.col(id_col).isNotNull() & F.col(label_col).isNotNull())
    base = _train_sample_gate(base, id_col, train_frac, sample_seed)
    pooled = (
        hashed_token_features_norm(base, text_col, id_col, n_buckets, seed, ngram_range)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("bucket", "cnt_q")).alias("__f"))
    )
    labelled = pooled.join(
        base.select(F.col(id_col), F.col(label_col).alias("__y")), id_col
    ).select("__y", "__f")
    metrics = [F.count(F.lit(1))]
    if classes is None:
        metrics.append(F.to_json(F.array_sort(F.collect_set("__y"))))
    docs, values = observed_checkpoint(labelled, *metrics)
    if classes is None:
        classes = json.loads(values[1])
        if not classes:
            raise ValueError("lang_classifier_train: empty class set")
    n = values[0]
    if n == 0:
        raise ValueError("lang_classifier_train: empty training frame")
    k = len(classes)
    lut = exp_lut_q()
    cur = {(c, b): 0 for c in classes for b in range(-1, n_buckets)}
    for _ in range(iters):
        # the round's model as one LocalRelation row, read by a scalar
        # subquery: lane i of bucket b at (b+1)·K + i of ``wa``, the exp
        # LUT and the class lanes.  A broadcast join of the same row
        # would run one more job per round (the broadcast collects its
        # side through a job; the subquery reads the local rows)
        model = local_frame(
            spark,
            [(([cur[(c, b)] for b in range(-1, n_buckets) for c in classes], lut, classes),)],
            "m struct<wa: array<bigint>, lut: array<bigint>, cls: array<string>>",
        )
        # row-local K-lane logits → LUT exp → integer softmax →
        # residuals pq − y·1e7
        resid = (
            docs.select("__y", "__f", model.scalar().alias("__m"))
            .selectExpr(
                "__y", "__f", "__m",
                f"transform(sequence(0, {k - 1}), i -> aggregate(__f, 0L, "
                f"(a, x) -> a + element_at(__m.wa, (x.bucket + 1) * {k} + i + 1)"
                " * x.cnt_q)) AS __lq",
            )
            .selectExpr("__y", "__f", "__m", f"transform(__lq, v -> {_EXP_Q_SQL}) AS __eq")
            .selectExpr("*", "aggregate(__eq, 0L, (a, v) -> a + v) AS __den")
            .selectExpr(
                "__f", "__m",
                "transform(__eq, (v, i) -> (v * 10000000L div __den)"
                " - IF(element_at(__m.cls, i + 1) = __y, 10000000L, 0L)) AS __rq",
            )
        )
        # per-row |__rq·cnt_q| ≤ 1e7·1e4 = 1e11 fits BIGINT, but the
        # per-(class,bucket) SUM spans the corpus (the bias bucket sums
        # ~1e11 per doc) — a BIGINT accumulator would wrap silently
        # past ~9e7 docs under non-ANSI Spark.  decimal(38,0) gives
        # ~1e27-doc headroom; __gq is only ever consumed via a double
        # cast, so the widening is bit-neutral.
        grads = (
            resid.selectExpr(
                "inline(flatten(transform(__f, x -> transform(__rq, (r, i) -> "
                "named_struct('class', element_at(__m.cls, i + 1), "
                "'bucket', x.bucket, '__g', r * x.cnt_q)))))"
            )
            .groupBy("class", "bucket")
            .agg(F.expr("sum(CAST(__g AS DECIMAL(38,0)))").alias("__gq"))
        )
        # __gq is on the 1e-11 grid (1e-7 residual × 1e-4 feature); the
        # extra FEAT_NORM_SCALE divisor returns the update to the 1e-7
        # weight grid
        for row in grads.collect():
            cur[(row["class"], row["bucket"])] -= math.floor(
                float(row["__gq"]) * lr / float(n * FEAT_NORM_SCALE)
            )
    return local_frame(
        spark,
        [(c, b, q) for (c, b), q in sorted(cur.items())],
        "class string, bucket int, wq bigint",
    )


def lang_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
    ngram_range: tuple[int, int] | None = None,
    classes: list[str] | None = None,
) -> DataFrame:
    """Score documents under a trained :func:`lang_classifier_train`
    weight table: per-class exact integer logits, prediction = argmax
    with ties to the lexicographically smallest class (the
    ``min(struct(−logit, class))`` fold — order-independent under any
    partitioning, argmax never needs the softmax since it is
    monotonic in the logit).  Returns (id, pred_lang, logit_q) —
    logit_q is the winning logit on the 1e-11 integer grid (1e-7
    weights × 1e-4 normalized features).  ``ngram_range`` must match
    what the weights were trained with.

    Scale shape: the model-sized weight table — K·(n_buckets+1) rows —
    is read once with ``collect()`` (no job when it is the trainer's
    LocalRelation) and turned on the driver into a bucket→K-lane
    ``array<bigint>`` LocalRelation, lane i holding ``classes[i]``.
    The K per-class logits are K map-side-combined SUMs in ONE
    groupBy(id) hash aggregate over the broadcast of that table
    (position-indexed lanes, O(1) per lookup), and the argmax is a
    row-local ``array_min`` over (−logit, class) structs, the same
    comparator as the grouped ``min(struct)``.  One corpus-linear
    shuffle; duplicate ids pool their features, as in
    :func:`hashed_token_features_norm`.

    ``classes`` (optional) names the classes to score, default every
    class of the weight table; a name the table lacks is rejected.
    The table should be the full class×bucket grid the trainer emits;
    a missing (class, bucket) pair weighs 0."""
    feats = hashed_token_features_norm(
        df, text_col, id_col, n_buckets, seed, ngram_range
    )
    by_class: dict[str, dict[int, int]] = {}
    for r in weights.collect():
        by_class.setdefault(r["class"], {})[int(r["bucket"])] = int(r["wq"])
    if classes is None:
        classes = sorted(by_class)
    if not classes:
        raise ValueError("lang_classifier_score: empty weight table")
    unknown = sorted(set(classes) - set(by_class))
    if unknown:
        raise ValueError(
            f"lang_classifier_score: classes {unknown} are not in the weight table"
        )
    buckets = sorted({b for w in by_class.values() for b in w})
    wp = local_frame(
        df.sparkSession,
        [(b, [by_class[c].get(b, 0) for c in classes]) for b in buckets],
        "bucket int, __wa array<bigint>",
    )
    logits = (
        feats.join(F.broadcast(wp), "bucket")
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.element_at(F.col("__wa"), i + 1) * F.col("cnt_q")).alias(
                    f"__lq{i}"
                )
                for i in range(len(classes))
            ]
        )
    )
    best = logits.select(
        F.col(id_col),
        F.array_min(
            F.array(
                *[
                    F.struct(
                        (-F.col(f"__lq{i}")).alias("nl"),
                        F.lit(c).alias("c"),
                    )
                    for i, c in enumerate(classes)
                ]
            )
        ).alias("__w"),
    )
    return best.select(
        F.col(id_col),
        F.col("__w.c").alias("pred_lang"),
        (-F.col("__w.nl")).cast("bigint").alias("logit_q"),
    )


def lang_classify_rowlocal(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
    passthrough: bool = False,
    ngram_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Row-LOCAL twin of :func:`lang_classifier_score`: the trained
    (class, bucket, wq) table — K·(n_buckets+1) rows, KBs — is
    collected once into per-class literal maps, and each document's K
    logits are per-row folds over its distinct hashed buckets: NO
    explode, NO join, NO shuffle.  The normalized feature values are
    recomputed per row with the same exact integer arithmetic as
    :func:`hashed_token_features_norm` (``cnt_b·1e4 div Σcnt`` — the
    div emulated as ``(a − a%b)/b``, an exact-multiple double division
    that is bit-safe under 2^53), so the fold is bit-equal to the
    batch scorer (parity-tested).  Prediction = argmax with ties to
    the lexicographically smallest class via ``array_min`` over
    (−logit, class) structs — the same fold, row-locally.
    ``ngram_range`` (must match training) swaps the per-row token
    array for the same subword feature-string array the batch
    featurizer hashes, preserving bit-equality.

    The scoring shape for Structured Streaming (stateless; see
    streaming.stream.stream_lang_classify) and for label-at-ingest
    passes where one corpus shuffle matters.  Returns (id, pred_lang,
    logit_q), appended to the input columns when ``passthrough``.

    Precondition (shared with :func:`classifier_score_rowlocal`): ids
    identify ROWS — the batch scorer groupBy-merges duplicate ids
    (pooling features and double-counting the bias), while the
    row-local fold classifies each row independently, so the parity
    contract holds on unique-id frames only."""
    rows = weights.collect()
    by_class: dict[str, dict[int, int]] = {}
    for r in rows:
        by_class.setdefault(r["class"], {})[int(r["bucket"])] = int(r["wq"])
    if not by_class:
        raise ValueError("lang_classify_rowlocal: empty weight table")
    classes = sorted(by_class)

    # MATERIALIZE the hashed-bucket array as a projected column before
    # folding: HOF lambdas get no codegen subexpression elimination, so
    # an inline `bkts` expression would re-run the md5 hash of every
    # feature string once per distinct-bucket filter probe — quadratic
    # in practice, and ~150× worse in subword mode (more grams × more
    # occupied buckets).  A column reference is computed once per row.
    # Subword mode additionally projects the tokenized word array once
    # (r14): the single-expression form re-tokenized every row
    # (hi−lo+2)× — see _subword_from_words_sql.
    staged = df.where(F.col(id_col).isNotNull())
    if ngram_range is None:
        toks = _feature_strings(text_col, ngram_range)
    else:
        lo, hi = ngram_range
        if not (1 <= lo <= hi):
            raise ValueError(
                f"ngram_range must satisfy 1 <= lo <= hi, got {ngram_range}"
            )
        staged = staged.withColumn(
            "__rx_words", F.expr(_WORDS_SQL.format(c=_quote_ident(text_col)))
        )
        toks = F.expr(_subword_from_words_sql("__rx_words", lo, hi))
    bcol = "__rx_bkts"
    staged = staged.withColumn(
        bcol,
        F.transform(
            toks, lambda t: (h64(t, seed=seed) % F.lit(n_buckets)).cast("int")
        ),
    )
    bkts = F.col(bcol)
    total = F.size(bkts).cast("bigint")

    def exact_div(a, b):
        # integer div for non-negative bigints: (a − a%b) is an exact
        # multiple of b and both operands stay < 2^53, so the double
        # division is exact
        return ((a - a % b) / b).cast("bigint")

    # (bucket, cnt_q) per distinct bucket — shared by every class fold,
    # so materialize it as a column too (every class's aggregate would
    # otherwise re-run the distinct×grams counting scan)
    scale = F.lit(FEAT_NORM_SCALE).cast("bigint")
    dcol = "__rx_dcnts"
    staged = staged.withColumn(
        dcol,
        F.transform(
            F.array_distinct(bkts),
            lambda b: F.struct(
                b.alias("b"),
                exact_div(
                    F.size(F.filter(bkts, lambda x: x == b)).cast("bigint") * scale,
                    total,
                ).alias("cq"),
            ),
        ),
    )
    dcnts = F.col(dcol)

    entries = []
    for c in classes:
        wm = {b: w for b, w in by_class[c].items() if b >= 0}
        keys = sorted(wm)
        wmap = F.map_from_arrays(
            _int_array_lit(keys, "int"),
            _int_array_lit([wm[k] for k in keys], "bigint"),
        )
        bias_term = F.lit(by_class[c].get(-1, 0) * FEAT_NORM_SCALE).cast("bigint")
        tok_term = F.when(
            total > 0,
            F.aggregate(
                dcnts,
                F.lit(0).cast("bigint"),
                lambda acc, e: acc
                + F.coalesce(
                    F.element_at(wmap, e.getField("b")), F.lit(0).cast("bigint")
                )
                * e.getField("cq"),
            ),
        ).otherwise(F.lit(0).cast("bigint"))
        lq = bias_term + tok_term
        entries.append(F.struct((-lq).alias("nl"), F.lit(c).alias("c")))

    best = F.array_min(F.array(*entries))
    head = [F.col(c) for c in df.columns] if passthrough else [F.col(id_col)]
    return staged.select(
        *head,
        best.getField("c").alias("pred_lang"),
        (-best.getField("nl")).cast("bigint").alias("logit_q"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str = "logit",
    label_col: str = "y",
    grid: int = 100,
) -> DataFrame:
    """Precision/recall threshold sweep for a scored corpus — the
    calibration step after :func:`logreg_train`: pick the classifier's
    keep-threshold from evidence, not folklore.  One aggregation
    shuffle over the corpus reduces it to a ``1/grid``-step score
    histogram; the cumulative sweep then runs over the GRID-sized
    frame (hundreds of buckets, never corpus rows), so the
    unpartitioned windows here are bucket-sized by construction — no
    global corpus sort anywhere.

    All counters are exact BIGINTs and the ratios use integer
    division (``div`` / DuckDB ``//`` — never float division, whose
    ``floor(a*1e6/b)`` double product overflows 2^53 exactness around
    1e12-row corpora): ``precision_q = tp·1e6 div (tp+fp)`` etc., so
    the sweep is bit-identical across engines at any corpus size.

    Row at bucket b = metrics for threshold ``thr = b/grid`` (predict
    keep ⟺ score ≥ thr, since ``floor(score·grid) ≥ b ⟺ score·grid ≥
    b``).  Returns (thr, tp, fp, fn, precision_q, recall_q, f1_q) —
    ``*_q`` are ×1e6-quantized and total (0 when undefined: recall
    with no positive labels, F1 at p + r = 0 — NON-NULL by design,
    since a nullable int degrades to float in Arrow/pandas
    consumers)."""
    if grid < 1:
        raise ValueError(f"pr_curve: grid must be >= 1, got {grid}")
    per = (
        # degenerate rows are dropped, not miscounted: a NULL label
        # would silently count as a negative (n_neg = count − sum(y)),
        # and a NULL score would form a NULL bucket whose positives
        # inflate the recall denominator while being unreachable at
        # any threshold — both violate the exact-by-construction
        # contract
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            F.floor(F.col(score_col) * F.lit(float(grid)))
            .cast("bigint")
            .alias("bucket"),
            F.col(label_col).cast("bigint").alias("__y"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("__y").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("__y")).alias("n_neg"),
        )
    )
    w_cum = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # overflow: tp/fp are cumulative DOC counts — ≤ corpus rows
    # (≈1e11 documents at 100 TB), and the precision_q numerator peaks
    # at tp·1e6 ≈ 1e17 — both under 2^63; bigint is safe.
    cum = per.select(
        "bucket",
        F.sum("n_pos").over(w_cum).cast("bigint").alias("tp"),
        F.sum("n_neg").over(w_cum).cast("bigint").alias("fp"),
        F.sum("n_pos").over(w_all).cast("bigint").alias("__tot"),
    )
    pr = cum.select(
        "bucket",
        "tp",
        "fp",
        (F.col("__tot") - F.col("tp")).alias("fn"),
        F.expr("tp * 1000000L div (tp + fp)").alias("precision_q"),
        F.when(
            F.col("__tot") > 0, F.expr("tp * 1000000L div __tot")
        ).alias("recall_q"),
    )
    return pr.select(
        (F.col("bucket").cast("double") / F.lit(float(grid))).alias("thr"),
        "tp",
        "fp",
        "fn",
        "precision_q",
        F.coalesce(F.col("recall_q"), F.lit(0)).cast("bigint").alias("recall_q"),
        # F1 = 0 when undefined (p + r = 0, or no positive labels) — the
        # standard convention, and it keeps the column NON-NULL: a
        # nullable int degrades to float in Arrow/pandas consumers,
        # which breaks cross-engine value comparison
        F.coalesce(
            F.expr(
                "2L * precision_q * recall_q div nullif(precision_q + recall_q, 0L)"
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("f1_q"),
    )


def classifier_score_rowlocal(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 0,
    logit_threshold: float = 0.0,
    passthrough: bool = False,
) -> DataFrame:
    """Row-LOCAL twin of :func:`quality_classifier_score`: the trained
    weight table (n_buckets+1 rows, KBs) is collected once into a plan
    literal map, and each document's logit is a per-row token fold —
    ``logit_q = wq[-1] + Σ_t wq[h64(t) % n_buckets]`` — with NO
    explode, NO join, NO shuffle.  Integer addition is commutative, so
    the fold is bit-equal to the batch scorer's per-bucket
    ``Σ wq·cnt`` (parity-tested).

    This is the scoring shape for the two places the join-based scorer
    can't go: Structured Streaming (stateless — no state store, no
    watermark; see streaming.stream.stream_classifier_score) and the
    100 TB scoring pass where even one corpus shuffle is the cost
    driver.  Returns (id, logit, keep) like the batch scorer.

    Precondition: ids identify ROWS — the batch scorer groupBy-merges
    duplicate ids while this fold scores each row independently, so
    the bit-parity contract holds on unique-id frames only."""
    rows = {int(r["bucket"]): int(r["wq"]) for r in weights.collect()}
    if not rows:
        raise ValueError("classifier_score_rowlocal: empty weight table")
    bias = rows.pop(-1, 0)
    keys = sorted(rows)
    wmap = F.map_from_arrays(
        _int_array_lit(keys, "int"),
        _int_array_lit([rows[k] for k in keys], "bigint"),
    )
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    bucket = lambda t: (h64(t, seed=seed) % F.lit(n_buckets)).cast("int")  # noqa: E731
    lq = F.coalesce(
        F.aggregate(
            toks,
            F.lit(bias).cast("bigint"),
            lambda acc, t: acc
            + F.coalesce(F.element_at(wmap, bucket(t)), F.lit(0).cast("bigint")),
        ),
        F.lit(bias).cast("bigint"),
    )
    head = (
        [F.col(c) for c in df.columns] if passthrough else [F.col(id_col)]
    )
    return df.where(F.col(id_col).isNotNull()).select(
        *head,
        (lq.cast("double") / F.lit(1e7)).alias("logit"),
        F.when(
            lq.cast("double") / F.lit(1e7) >= F.lit(logit_threshold), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("keep"),
    )


def hash_embed(
    df: DataFrame,
    dim: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    normalize: bool = True,
) -> DataFrame:
    """Feature-hashing text embedder (random-projection signs from the
    portable h64 — the hashing-trick counterpart of random indexing):
    ``v_d = Σ_t (2·bit_d(h64(t)) − 1)``, one md5 per TOKEN (the per-dim
    signs are bits of that single hash — never dim hashes per token),
    then per-dim bit folds in exact integer arithmetic.

    This makes the text→ANN pipeline self-contained: corpora without a
    model-embedding column still get a deterministic dense vector that
    preserves bag-of-tokens cosine structure, and every downstream
    similarity operator (cosine_topk / IVF / PQ / int8 / MMR) composes
    with it unchanged.  Component sums are exact BIGINTs (cross-engine
    bit-identical by construction); with ``normalize=True`` one IEEE
    sqrt/division pair maps onto the unit sphere.  A NULL text yields a
    NULL vector; an empty text yields the zero vector (unnormalized —
    the zero-norm guard).

    Scale shape: pure per-row projection — no shuffle, no Python, no
    joins; runs inside the scan stage like quantize_embeddings."""
    if not 1 <= dim <= 60:
        raise ValueError(f"hash_embed: dim must be in [1, 60], got {dim}")
    from rheoceros_spark.operators.scale import ensure_parallelism

    toks_f = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    harr = F.transform(toks_f, lambda t: h64(t, seed=seed))
    # fan the scan to cluster width BEFORE the per-row fold (r14): the
    # tokenize + per-token md5 + dim×tokens bit fold is the CPU body,
    # and a single-file corpus otherwise runs it all on one core (the
    # _minhash_docs lesson; no-op on pre-split inputs)
    base = ensure_parallelism(df.where(F.col(id_col).isNotNull())).withColumn(
        "__harr", harr
    )
    comp = F.expr(
        f"transform(sequence(0, {dim - 1}), d -> "
        f"aggregate(__harr, 0L, (acc, h) -> acc + (2L * ((h >> d) & 1L) - 1L)))"
    )
    # aggregate(NULL, ...) is NULL per element while sequence() is not,
    # so an unguarded transform would yield [NULL, NULL, ...] for a
    # NULL text instead of the documented NULL vector
    out = base.withColumn(
        "__comp", F.when(F.col("__harr").isNotNull(), comp)
    )
    dvec = F.transform(F.col("__comp"), lambda x: x.cast("double"))
    if not normalize:
        return out.select(F.col(id_col), dvec.alias("embedding"))
    from rheoceros_spark.functions.portable import dot

    norm = F.sqrt(dot(dvec, dvec))
    unit = F.when(norm > 0, F.transform(dvec, lambda x: x / norm)).otherwise(dvec)
    return out.select(F.col(id_col), unit.alias("embedding"))


def sif_embed(
    df: DataFrame,
    dim: int = 32,
    vocab_size: int = 1024,
    a: float = 1e-3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    normalize: bool = False,
    impl: str = "auto",
) -> DataFrame:
    """SIF-weighted feature-hashing embedder: :func:`hash_embed` with
    per-token smooth-inverse-frequency weights
    ``w(t) = a / (a + p(t))`` (Arora, Liang & Ma 2017, "A Simple but
    Tough-to-Beat Baseline for Sentence Embeddings") — frequent tokens
    contribute less, so the vector tracks a document's CONTENT terms
    instead of its stopword mass.  Two corpus passes:

    1. **weights** — one wordcount-shaped aggregate (map-combined token
       counts, the only shuffle) keeps the top-``vocab_size`` tokens by
       (count desc, token asc); every tail token gets weight exactly
       1.0 — principled, because SIF's ``a/(a+p)`` → 1 as p → 0, so
       truncating the weight table changes almost nothing numerically
       while keeping it broadcastable at web scale (a full web vocab is
       ~1e8 terms; the head carries the frequency mass that matters).
       Weights are quantized to integer micro-units
       (``wq = floor(1e6·w + 0.5)``, computed in IEEE doubles from
       exact integer counts — bit-identical across engines).
    2. **projection** — per-token exact-BIGINT sign contributions
       exactly like hash_embed (one md5 per token; the per-dim signs
       are bits of that single hash), each scaled by its ``wq``.

    Two projection implementations, bit-identical (the per-dim
    component is the same order-free BIGINT sum either way; parity
    pinned in pytest):

    * ``impl="rowfold"`` — per-row folds with the weight table as a
      plan-literal map (broadcast-via-plan; no join, no second
      shuffle — runs inside the scan stage like hash_embed).  Spark's
      literal-map lookup (``GetMapValue``) is a LINEAR scan of the
      keys, so each token costs O(vocab_size) comparisons — the right
      trade only while the head table is small (enforced ≤ 256).
    * ``impl="join"`` — explode the token stream, **broadcast**-join
      the weight table (hash lookup, O(1) per token), then ONE
      map-side-combined per-document aggregate of the ``dim`` weighted
      sign sums.  The shuffle is docs-sized (dim BIGINTs per doc),
      never corpus-token-sized — the 100 TB path for large heads.

    ``impl="auto"`` picks rowfold when ``vocab_size`` ≤ 128, join
    otherwise.

    overflow: |component| ≤ 1e6·(tokens per doc); a 9.2e18 BIGINT holds
    any document under 9.2e12 tokens — per-DOC bound, corpus-free.

    NULL text yields a NULL vector; empty text yields the zero vector
    (unnormalized — the zero-norm guard), matching hash_embed."""
    if not 1 <= dim <= 60:
        raise ValueError(f"sif_embed: dim must be in [1, 60], got {dim}")
    if not 1 <= vocab_size <= 4096:
        raise ValueError(
            f"sif_embed: vocab_size must be in [1, 4096] (broadcast weight "
            f"table), got {vocab_size}"
        )
    if not a > 0:
        raise ValueError(f"sif_embed: a must be > 0, got {a}")
    if impl == "auto":
        impl = "rowfold" if vocab_size <= 128 else "join"
    if impl not in ("rowfold", "join"):
        raise ValueError(f"sif_embed: impl must be rowfold|join|auto, got {impl}")
    if impl == "rowfold" and vocab_size > 256:
        raise ValueError(
            "sif_embed: impl='rowfold' scans the literal map per token "
            f"(O(vocab_size) each) — use impl='join' for vocab_size={vocab_size}"
        )
    import math

    from rheoceros_spark.operators.scale import ensure_parallelism

    toks_f = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    base = df.where(F.col(id_col).isNotNull())
    # pass 1: token counts (fan the scan out before the tokenize CPU —
    # the bm25 lesson) → top-V head + exact total
    # two driver actions consume this vocab-sized frame (the exact
    # total and the top-V head; ~1 s per extra corpus pass at sf0.1)
    cnts = checkpoint(
        ensure_parallelism(base.select(toks_f.alias("__toks")))
        .select(F.explode(F.col("__toks")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = cnts.agg(F.sum("cnt")).head()[0] or 0
    head = (
        cnts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_size).collect()
        if total
        else []
    )
    # wq from exact ints through one fixed IEEE expression order —
    # the DuckDB oracle spells the identical expression.  Computed
    # ONCE here so both projection impls share the identical table.
    weights = {
        r["token"]: int(math.floor(1e6 * (a / (a + r["cnt"] / total)) + 0.5))
        for r in head
    }
    tail_wq = F.lit(1_000_000).cast("bigint")

    if impl == "rowfold":
        if weights:
            lits: list[Column] = []
            for tok, wq in weights.items():
                lits.append(F.lit(tok))
                lits.append(F.lit(wq))
            wmap = F.create_map(*lits)
            wq_of = lambda t: F.coalesce(F.element_at(wmap, t), tail_wq)  # noqa: E731
        else:
            wq_of = lambda t: tail_wq  # noqa: E731
        warr = F.transform(
            toks_f,
            lambda t: F.struct(
                h64(t, seed=seed).alias("h"), wq_of(t).cast("bigint").alias("w")
            ),
        )
        # fan the scan before the per-row fold (the hash_embed note)
        out = ensure_parallelism(base).withColumn("__warr", warr).withColumn(
            "__comp",
            # aggregate(NULL, ...) is NULL per element while sequence()
            # is not — same NULL-text guard as hash_embed
            F.when(
                F.col("__warr").isNotNull(),
                F.expr(
                    f"transform(sequence(0, {dim - 1}), d -> "
                    f"aggregate(__warr, 0L, (acc, x) -> "
                    f"acc + x.w * (2L * ((x.h >> d) & 1L) - 1L)))"
                ),
            ),
        )
    else:  # impl == "join"
        spark = df.sparkSession
        wdf = local_frame(spark, list(weights.items()), "token string, wq bigint")
        exploded = ensure_parallelism(
            base.select(F.col(id_col).alias("__id"), toks_f.alias("__toks"))
        ).select("__id", F.explode("__toks").alias("token"))
        h = h64(F.col("token"), seed=seed)
        contrib = exploded.join(F.broadcast(wdf), "token", "left").select(
            "__id",
            F.coalesce(F.col("wq"), tail_wq).alias("__w"),
            h.alias("__h"),
        )
        # ONE hash aggregate: dim weighted sign sums per doc — partial
        # (map-side) combine makes the exchange docs-sized
        sums = contrib.groupBy("__id").agg(
            *[
                F.sum(
                    F.col("__w")
                    * (
                        F.lit(2).cast("bigint")
                        * F.shiftright(F.col("__h"), d).bitwiseAND(F.lit(1).cast("bigint"))
                        - F.lit(1).cast("bigint")
                    )
                ).alias(f"__c{d}")
                for d in range(dim)
            ]
        )
        # docs with no tokens fall out of the explode: empty text →
        # zero vector, NULL text → NULL vector, exactly like rowfold.
        # r14: the NULL probe is text IS NULL directly — isnull(toks_f)
        # re-ran the whole normalize+split chain per row just to test
        # NULL (normalize/split of non-NULL text is never NULL, so the
        # two are equivalent), and it ran on the UNFANNED single-file
        # scan: the stage profile showed the entire rejoin + downstream
        # consumer stage on ONE task, 2.9 s of the query's 3.2 s.
        # ensure_parallelism fans the now-narrow (id, flag) stream so
        # the broadcast join and whatever the caller chains after it
        # (cosine_topk here) use every core; no-op on pre-split inputs.
        rejoined = ensure_parallelism(
            base.select(
                F.col(id_col), F.col(text_col).isNull().alias("__isnull")
            )
        ).join(sums, F.col(id_col) == F.col("__id"), "left")
        comp = F.array(
            *[F.coalesce(F.col(f"__c{d}"), F.lit(0).cast("bigint")) for d in range(dim)]
        )
        out = rejoined.withColumn(
            "__comp", F.when(~F.col("__isnull"), comp)
        )
    dvec = F.transform(F.col("__comp"), lambda x: x.cast("double"))
    if not normalize:
        return out.select(F.col(id_col), dvec.alias("embedding"))
    from rheoceros_spark.functions.portable import dot

    norm = F.sqrt(dot(dvec, dvec))
    unit = F.when(norm > 0, F.transform(dvec, lambda x: x / norm)).otherwise(dvec)
    return out.select(F.col(id_col), unit.alias("embedding"))


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_entropy_q: int = 1_500_000,
) -> DataFrame:
    """Character-level Shannon entropy of the normalized text — the
    classic gibberish / encoded-blob gate (low-entropy = repeated-char
    spam, high-entropy ≈ ln(charset) = base64/hex/binary dumps; both
    ends are crawl noise that word-level quality rules miss).  C4 and
    RefinedWeb-class pipelines run a character-statistics screen of
    exactly this shape alongside the word-level rules.

    ``H = ln(L) − (Σ_c n_c·ln(n_c)) / L`` over the per-character
    histogram of the normalized text (length L, count n_c for each
    distinct character).  Each ``ln(n_c)`` is quantized to an exact
    1e-7-grid BIGINT BEFORE the sum (the unigram-NLL cents() pattern),
    so the histogram fold is addition-order independent and
    cross-engine exact; one final 1e-6 rounding lands ``entropy_q`` in
    micro-nats.

    overflow: Σ n_c·lnq(n_c) ≤ L·(1e7·ln(L)); a 9.2e18 BIGINT holds any
    document under ~2e10 chars — per-DOC bound, corpus-free.

    Adds ``doc_len`` (normalized chars), ``n_char_classes`` (distinct
    characters), ``entropy_q`` (micro-nats; 0 for empty text, NULL for
    NULL text) and ``keep`` (entropy_q ≥ ``min_entropy_q``; false for
    NULL text).  Pure per-row column algebra — no shuffle, no Python,
    runs inside the scan stage."""
    from rheoceros_spark.operators.scale import ensure_parallelism

    # fan the scan to cluster width before the per-row rule CPU (r14 —
    # the hash_embed note; no-op on pre-split or streaming input)
    df = ensure_parallelism(df)
    norm = normalize_text(F.col(text_col))
    L = F.length(norm)
    chars = F.split(norm, "")
    dist = F.array_distinct(chars)
    lnq = lambda c: F.floor(  # noqa: E731
        F.log(c.cast("double")) * F.lit(1e7) + F.lit(0.5)
    ).cast("bigint")
    # histogram as a sorted-run fold, O(L log L) per row: the naive
    # per-distinct-char filter recount is O(distinct·L) of interpreted
    # HOF comparisons and measured 7.2 s at sf0.1 (the round's slowest
    # query) vs ~0.6 s for this shape.  Each run boundary contributes
    # its exact n·lnq(n) BIGINT term; the total is the same
    # order-independent sum the recount form produces (the DuckDB
    # oracle keeps the recount form — values are pinned equal).
    zero = F.lit(0).cast("bigint")
    run_fold = F.aggregate(
        F.array_sort(chars),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("sq"),
        ),
        lambda acc, c: F.struct(
            c.alias("prev"),
            F.when(c.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.when(c.eqNullSafe(acc.prev), acc.sq)
            .otherwise(acc.sq + F.when(acc.run > 0, acc.run * lnq(acc.run)).otherwise(zero))
            .alias("sq"),
        ),
        lambda acc: acc.sq
        + F.when(acc.run > 0, acc.run * lnq(acc.run)).otherwise(zero),
    )
    sq = run_fold
    entropy_q = F.when(L == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor(
            (
                F.log(L.cast("double"))
                - sq.cast("double") / (F.lit(1e7) * L.cast("double"))
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("bigint")
    )
    out = (
        df.where(F.col(id_col).isNotNull())
        .withColumn("doc_len", L.cast("bigint"))
        .withColumn(
            "n_char_classes",
            F.when(L == 0, F.lit(0)).otherwise(F.size(dist)).cast("bigint"),
        )
        .withColumn("entropy_q", entropy_q)
    )
    return out.withColumn(
        "keep", F.coalesce(F.col("entropy_q") >= F.lit(min_entropy_q), F.lit(False))
    )
