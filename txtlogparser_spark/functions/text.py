"""Text-analysis functions for training-data pipelines — pure Catalyst
column expressions (JVM, whole-stage codegen) unless noted.

- token counting: whitespace + regex (BPE-ish segmentation count)
- quality scoring: length/punctuation/stopword ratios
- language ID: stopword-profile n-gram heuristic (per-language stopword
  hit ratios → argmax), expressible as a CASE over computed ratios
- document fingerprinting: md5 content digest + rolling-hash prefix
  fingerprint for fuzzy clustering
"""

from __future__ import annotations

from typing import Dict, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column

# Minimal stopword profiles (public, conventional function-word lists).
LANG_STOPWORDS: Dict[str, Sequence[str]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "en", "que", "los"),
    "fr": ("le", "la", "de", "et", "en", "que", "les"),
    "de": ("der", "die", "das", "und", "in", "zu", "den"),
}


def whitespace_token_count(text_col: str = "text") -> Column:
    return F.size(F.split(F.col(text_col), " "))


def doc_words(text_col: str = "text", lowercase: bool = True) -> Column:
    """THE whitespace word tokenization every cross-engine-parity op
    shares (lm perplexity, BM25, DSIR, BPE fertility): optional
    lowercase, Java `\\s+` split with limit=-1 (so '' yields [] — an
    unlimited split yields [''] and mints a bogus empty word), empty
    strings filtered. One definition on purpose: DuckDB oracles replay
    `list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x !=
    '')`, and a private copy that drifts (a limit omitted, a Unicode
    tweak) silently breaks stream/batch and Spark/DuckDB agreement for
    just the ops holding the stale copy."""
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return F.filter(F.split(t, r"\s+", -1), lambda w: w != "")


def regex_token_count(text_col: str = "text", pattern: str = "[A-Za-z0-9]+") -> Column:
    return F.regexp_count(F.col(text_col), F.lit(pattern))


def stopword_ratio(text_col: str = "text", stopwords: Sequence[str] = ("a", "the")) -> Column:
    words = F.split(F.col(text_col), " ")
    stops = F.size(F.filter(words, lambda w: F.lower(w).isin(*stopwords)))
    return F.round(stops / F.size(words), 6)


def punct_ratio(text_col: str = "text") -> Column:
    n = F.length(F.col(text_col))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?'\"]", ""))
    return F.when(n > 0, F.round(punct / n, 6)).otherwise(F.lit(0.0))


def quality_score(text_col: str = "text") -> Column:
    """Composite [0,1] quality heuristic: long-enough, low punctuation
    noise, sane mean word length. Deterministic, tunable weights."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    mean_len = F.when(n_words > 0, F.length(F.col(text_col)) / n_words).otherwise(0.0)
    len_ok = F.least(n_words / F.lit(20.0), F.lit(1.0))
    word_ok = F.when((mean_len >= 3) & (mean_len <= 12), 1.0).otherwise(0.5)
    noise = punct_ratio(text_col)
    return F.round(len_ok * 0.4 + word_ok * 0.4 + (1 - F.least(noise * 5, F.lit(1.0))) * 0.2, 6)


def langid_heuristic(text_col: str = "text") -> Column:
    """Argmax of stopword-profile hit ratios; 'und' (undetermined) when no
    profile fires. Pure CASE expression — no UDF."""
    words = F.transform(F.split(F.col(text_col), " "), F.lower)

    def hit(sw):
        return lambda w: w.isin(*sw)

    ratios = {
        lang: F.size(F.filter(words, hit(sw))) / F.size(words)
        for lang, sw in LANG_STOPWORDS.items()
    }
    best = None
    for lang, r in ratios.items():
        best = r if best is None else F.greatest(best, r)
    expr = F.lit("und")
    for lang, r in reversed(list(ratios.items())):
        expr = F.when((r == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


_POLY_MOD = 1_000_000_007
_POLY_BASE = 31


# char codes as a bigint array in ONE O(len) pass: split('') walks the
# string once, vs substring(t, i, 1) which SEEKS from the string start
# per call (UTF8String counts chars byte-by-byte) — the substring form
# made every whole-string scan O(len²). limit=-1 matters: it makes
# split('') of '' yield [] (unlimited split yields [''] -> a bogus 0).
def _char_codes(text_col: str) -> str:
    return (
        f"transform(split({text_col}, '', -1), "
        "c -> CAST(ascii(c) AS BIGINT))"
    )


def rolling_hash(text_col: str = "text") -> Column:
    """Polynomial rolling hash of the whole document (Rabin-Karp form:
    h = (h*31 + byte) mod 1e9+7). Pure Catalyst higher-order functions —
    whole-stage-codegen, no UDF; reproducible in ANSI SQL (list_reduce).
    O(len): one split pass + one fold (empty text folds to the 0 seed,
    same value the old length-guard special-cased)."""
    return F.expr(
        f"""aggregate({_char_codes(text_col)},
              CAST(0 AS BIGINT),
              (a, x) -> (a * {_POLY_BASE} + x) % {_POLY_MOD})"""
    )


def min_kgram_hash(text_col: str = "text", k: int = 8) -> Column:
    """Winnowing-style content fingerprint: minimum polynomial hash over
    all k-char grams (the rolling-window form of document fingerprinting;
    near-identical docs share the minimizing gram). Falls back to the
    whole-doc hash for texts shorter than k.

    Single-pass rolling fold, O(len·k): the accumulator carries the
    last <k char codes, the running window hash, and the min — the
    incoming char extends the hash and the outgoing char's k-1-power
    term is subtracted (mod-safe via +M·31 headroom before %). The
    previous spelling re-hashed every gram from scratch through
    per-char substring seeks — O(len²·k) on long documents. Gram
    values (and therefore the min and the DuckDB oracle) are identical:
    the window hash equals the same polynomial mod 1e9+7."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # 31^(k-1) mod M — the outgoing char's coefficient
    p = pow(_POLY_BASE, k - 1, _POLY_MOD)
    codes = _char_codes(text_col)
    if k == 1:
        # degenerate window: each gram hash IS the char code mod M
        return F.expr(
            f"""CASE WHEN length({text_col}) < 1 THEN CAST(0 AS BIGINT)
                ELSE array_min({codes}) END"""
        )
    return F.expr(
        f"""CASE WHEN length({text_col}) < {k} THEN
            aggregate({codes},
              CAST(0 AS BIGINT),
              (a, x) -> (a * {_POLY_BASE} + x) % {_POLY_MOD})
            ELSE
            aggregate(
              {codes},
              named_struct('win', CAST(array() AS ARRAY<BIGINT>),
                           'h', CAST(0 AS BIGINT),
                           'mn', CAST({_POLY_MOD} AS BIGINT)),
              (acc, x) -> CASE WHEN size(acc.win) < {k - 1} THEN
                named_struct(
                  'win', concat(acc.win, array(x)),
                  'h', (acc.h * {_POLY_BASE} + x) % {_POLY_MOD},
                  'mn', acc.mn)
              ELSE
                named_struct(
                  'win', concat(slice(acc.win, 2, {k - 1}), array(x)),
                  'h', (((acc.h * {_POLY_BASE} + x) % {_POLY_MOD})
                        - (element_at(acc.win, 1) * {p}) % {_POLY_MOD}
                        + {_POLY_MOD}) % {_POLY_MOD},
                  'mn', least(acc.mn,
                              (acc.h * {_POLY_BASE} + x) % {_POLY_MOD}))
              END,
              acc -> acc.mn)
            END"""
    )


def duplicate_word_fraction(text_col: str = "text") -> Column:
    """Fraction of word occurrences that are repeats of an earlier word
    (1 - distinct/total). The word-level form of the repetition filters
    in published pretraining-quality rule sets (Gopher/MassiveText-style
    "duplicate line/paragraph fraction" — our fixture docs are single
    logical lines, so the unit is the word). Pure Catalyst."""
    words = F.split(F.col(text_col), " ")
    return F.round(
        F.lit(1.0) - F.size(F.array_distinct(words)) / F.size(words), 6
    )


def top_bigram_fraction(text_col: str = "text") -> Column:
    """Fraction of the document's word-bigrams taken by its single most
    frequent bigram (Gopher-style "top 2-gram fraction": boilerplate and
    degenerate repetition push this toward 1). Pure Catalyst HOFs:
    build the bigram array, count each distinct bigram's occurrences,
    take the max. O(distinct x total) per row — row-local, linear in the
    corpus, no shuffle. Docs under 2 words score 0.0."""
    # Both the word array AND the bigram array are bound as lambda
    # variables (one-element transform wrappers — the word_shingles
    # fix): referencing the raw split()/transform() expressions inside
    # the nested lambdas re-evaluates them per element, turning the
    # documented O(distinct × total) into O(len³) per document
    # (measured at 5k docs/sf0.1: 147.9s → sub-second).
    def over_w(w: Column) -> Column:
        # the <2-word guard must wrap the ARRAY construction here: the
        # binding wrapper evaluates it eagerly (as transform's
        # collection argument), so the outer when() can no longer
        # short-circuit the descending sequence(0,-1) + out-of-bounds
        # element_at the original lazy form never executed
        bgx = F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

        def over_bg(bg: Column) -> Column:
            top = F.array_max(
                F.transform(
                    F.array_distinct(bg),
                    lambda b: F.size(F.filter(bg, lambda x: x == b)),
                )
            )
            return F.when(
                F.size(w) >= 2, F.round(top / F.size(bg), 6)
            ).otherwise(F.lit(0.0))

        return F.element_at(F.transform(F.array(bgx), over_bg), 1)

    return F.element_at(
        F.transform(F.array(F.split(F.col(text_col), " ")), over_w), 1
    )


def is_repetitive(
    text_col: str = "text",
    max_dup_word_frac: float = 0.5,
    max_top_bigram_frac: float = 0.18,
) -> Column:
    """Reject rule combining the two repetition signals — the thresholds
    are the tunable policy knobs a quality-filter stage exposes."""
    return (duplicate_word_fraction(text_col) > max_dup_word_frac) | (
        top_bigram_fraction(text_col) > max_top_bigram_frac
    )


# Gopher rule 6's required English function words (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", Appendix A — public recipe).
GOPHER_STOPWORDS: Sequence[str] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_flags(
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Dict[str, Column]:
    """The Gopher/MassiveText document-quality rule set (Rae et al.
    2021, Appendix A1.1) as named boolean columns, one per rule, plus
    the conjunction under 'gopher_pass'. Defaults are the published
    thresholds; every one is a policy knob. Pure Catalyst column
    expressions — map-only, whole-stage codegen, O(len) per document,
    composable with any corpus frame at any scale.

    Returned keys: words_ok (50..100k words), mean_word_len_ok (3..10),
    symbol_ratio_ok (#/ellipsis per word <= 0.1), bullet_lines_ok
    (<= 90% of lines bullet-led), ellipsis_lines_ok (<= 30% of lines
    ellipsis-terminated), alpha_words_ok (>= 80% of words contain a
    letter), stopwords_ok (>= 2 distinct required function words),
    gopher_pass.

    Word unit is a WHITESPACE split (regex \\s+), not this module's
    usual single-space split: the rule set explicitly targets
    multi-line documents (per-line bullet/ellipsis rules), and a
    single-space split would glue words across newlines and count
    empty strings under double spaces, distorting the word-count /
    word-length / alpha rules for exactly those documents. Gopher's
    published rules tokenize on whitespace. NULL text coalesces to ''
    so every flag is a definite boolean (empty text = one '' word,
    rejected by min_words). A leading-whitespace artifact remains
    (Java split keeps one leading empty token); it is one short word
    in the denominators.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(t, r"\s+")
    n_words = F.size(words)
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines)
    # mean word length over word characters only (separators excluded)
    word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    mean_wl = F.when(n_words > 0, word_chars / n_words).otherwise(
        F.lit(0.0)
    )
    symbols = (
        F.regexp_count(t, F.lit(r"#"))
        + F.regexp_count(t, F.lit(r"\.\.\."))
        + F.regexp_count(t, F.lit("…"))
    )
    bullet_frac = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    ) / n_lines
    ellipsis_frac = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    ) / n_lines
    alpha_frac = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ) / n_words
    # array_intersect takes the computed word array as an ARGUMENT
    # (evaluated once) — referencing it inside a filter lambda would
    # re-split the document once per stopword (no CSE inside HOF
    # lambdas; the O(len^2) trap documented at kgram_occurrences)
    stop_hits = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "words_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "symbol_ratio_ok": symbols <= max_symbol_word_ratio * n_words,
        "bullet_lines_ok": bullet_frac <= max_bullet_line_frac,
        "ellipsis_lines_ok": ellipsis_frac <= max_ellipsis_line_frac,
        "alpha_words_ok": alpha_frac >= min_alpha_word_frac,
        "stopwords_ok": stop_hits >= min_stopword_hits,
    }
    passed = None
    for c in flags.values():
        passed = c if passed is None else (passed & c)
    flags["gopher_pass"] = passed
    return flags


def tfidf_top_terms(
    df,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 3,
):
    """Top-k TF-IDF terms per group — the "characteristic vocabulary"
    report of a corpus-analysis pass. Pure Catalyst end to end:

      explode(split) → two partial-agg groupBys (term-freq per
      (group, word); doc-freq per word) → broadcast the K-row doc-freq
      dim → per-group window top-k.

    tf = occurrences of word in the group's docs; df = docs containing
    the word; idf = ln((N_docs + 1) / (df + 1)); score = tf * idf
    (rounded to 6 for cross-engine hashing). Ties break on word ASC.
    Scale shape: both aggregates map-side-combine before one shuffle on
    their keys; the doc-freq side collapses to ≤|vocab| rows and joins
    broadcast; the only window is per-group (partitioned, never global).
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # N as a broadcast 1-row aggregate, not an eager driver count — the
    # whole report stays ONE lazy plan
    ndf = df.agg(F.count(F.lit(1)).alias("n_docs"))
    words = df.select(
        group_col,
        F.col(text_col),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    tf = words.groupBy(group_col, "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = (
        df.select(
            F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(ndf))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(group_col, "rank", "word", F.col("tf").cast("long").alias("tf"), "score")
    )
