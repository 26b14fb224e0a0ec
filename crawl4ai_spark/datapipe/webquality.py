"""Web-text quality heuristics for training-data pipelines: the published
Gopher rules (Rae et al. 2021, "Scaling Language Models", Table A1) and the
C4 line/page cleaning rules (Raffel et al. 2020, §2.2) as pure Catalyst
column expressions.

These are the standard batch gates a 100 TB web corpus passes through
before tokenization; the reference repo stops at per-page extraction, so
this module is part of the beyond-the-reference training-data surface
(SURVEY.md "LLM-data-pipeline" tier, same bucket as datapipe/textstats.py).

Design rule (same as textstats.py): every metric is a deterministic Column
expression with an exact DuckDB-SQL twin in the contract oracle — no UDFs,
so the whole gate runs inside whole-stage codegen, shuffle-free, and scales
linearly with cores. The per-document repetition metrics that are
quadratic in the number of lines/n-grams (dup_line_char_frac,
top_2gram_frac) stay O(L²) with L = lines-per-document (tens), never
corpus-sized. Both metric suites are frame functions
(``gopher_metrics_frame``, ``gopher_repetition_frame``) that stage the
word, line and n-gram arrays as columns once per row; the gates
(``gopher_gate_col``, ``gopher_repetition_gate_col``) read their output.

Documented divergences from the papers (kept deliberately, both engines
compute the same value):
- stop-word gate counts distinct hits from the paper's 8-word list
  ("the, be, to, of, and, that, have, with"); the paper requires ≥ 2.
(The quality gate's top-2-gram screen uses the paper-exact CHARACTER
fraction, the same machinery as the full repetition suite.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Gopher's required-stopword list (the paper's own 8 words).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# C4 line-level blocklist fragments (lowercased containment check).
C4_BAD_FRAGMENTS = ["javascript", "lorem ipsum", "{"]

# C4 terminal punctuation a kept line must end with.
C4_TERMINAL = [".", "!", "?", '"', "'"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def words_col(text: Column | str) -> Column:
    """Raw whitespace words (case preserved), empties dropped."""
    return F.filter(F.split(_c(text), r"\s+"), lambda w: w != "")


def lines_col(text: Column | str) -> Column:
    """Non-empty lines, whitespace-trimmed."""
    trimmed = F.transform(F.split(_c(text), "\n"), lambda l: F.trim(l))
    return F.filter(trimmed, lambda l: l != "")


def mean_word_len_col(text: Column | str, ws: Column | None = None) -> Column:
    """Mean word length; pass a pre-staged word array via ``ws`` to skip
    re-tokenizing (the staged-frame path does)."""
    ws = words_col(text) if ws is None else ws
    total = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n = F.size(ws)
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )


def symbol_word_ratio_col(text: Column | str, ws: Column | None = None) -> Column:
    """(# count + ellipsis count) / words — Gopher's symbol screen."""
    c = _c(text)
    hashes = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ellipses = F.size(F.regexp_extract_all(c, F.lit(r"\.\.\.|…"), F.lit(0)))
    n = F.size(words_col(c) if ws is None else ws)
    return F.when(
        n > 0, (hashes + ellipses).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def alpha_word_ratio_col(text: Column | str, ws: Column | None = None) -> Column:
    """Fraction of words containing at least one alphabetic character."""
    ws = words_col(text) if ws is None else ws
    hits = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    n = F.size(ws)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )


def stopword_types_col(
    text: Column | str, lower_ws: Column | None = None
) -> Column:
    """How many DISTINCT words of GOPHER_STOPWORDS appear in the document.
    Tokenization is split-then-lower (the same lowered-word array the
    staged frame and the oracle use)."""
    lower = (
        F.transform(words_col(text), F.lower) if lower_ws is None else lower_ws
    )
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    return F.size(F.filter(stops, lambda s: F.array_contains(lower, s))).cast(
        "long"
    )


def gopher_metrics_frame(df, text_col: str, struct_col: str = "m"):
    """All Gopher screening metrics as one struct column ``struct_col``
    added to ``df`` (rounded to 6 dp where fractional, so the oracle
    compare is exact). The word / lowered-word / line / 2-gram arrays are
    staged as real columns first, so each is computed once per row:
    inlined into every metric lambda, Catalyst would neither de-duplicate
    them across lambda boundaries nor codegen them compactly (same fix as
    ``gopher_repetition_frame``). Still shuffle-free — a chain of per-row
    projections."""
    c = F.col(text_col)
    gw, gwl, gls, gtot, gg2 = (
        F.col(n) for n in ("_gw", "_gwl", "_gls", "_gtot", "_gg2")
    )
    staged = (
        df.withColumn("_gw", words_col(c))
        .withColumn("_gwl", F.transform(gw, F.lower))
        .withColumn("_gls", lines_col(c))
        .withColumn("_gtot", _token_chars(gwl))
        .withColumn("_gg2", grams_guarded_col(gwl, 2))
    )
    out = staged.withColumn(
        struct_col,
        F.struct(
            F.size(gw).cast("long").alias("n_words"),
            F.round(mean_word_len_col(c, ws=gw), 6).alias("mean_word_len"),
            F.round(symbol_word_ratio_col(c, ws=gw), 6).alias(
                "symbol_word_ratio"
            ),
            F.round(alpha_word_ratio_col(c, ws=gw), 6).alias("alpha_word_ratio"),
            stopword_types_col(c, lower_ws=gwl).alias("stopword_types"),
            F.round(dup_frac_from_parts(gls), 6).alias("dup_line_frac"),
            F.round(dup_char_frac_from_parts(gls), 6).alias("dup_line_char_frac"),
            # paper-exact char fraction (Table A1 row 12), shared with the
            # full repetition suite below
            F.round(_top_frac_from_grams(gg2, gtot, 2), 6).alias("top_2gram_frac"),
        ),
    )
    return out.drop("_gw", "_gwl", "_gls", "_gtot", "_gg2")


def gopher_gate_col(
    metrics: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wl: float = 3.0,
    max_mean_wl: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stop_types: int = 2,
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    max_top_2gram_frac: float = 0.2,
) -> Column:
    """The Gopher keep/reject decision over a ``gopher_metrics_frame``
    struct; defaults are the paper's published thresholds."""
    m = metrics
    return (
        (m["n_words"] >= min_words)
        & (m["n_words"] <= max_words)
        & (m["mean_word_len"] >= min_mean_wl)
        & (m["mean_word_len"] <= max_mean_wl)
        & (m["symbol_word_ratio"] <= max_symbol_ratio)
        & (m["alpha_word_ratio"] >= min_alpha_ratio)
        & (m["stopword_types"] >= min_stop_types)
        & (m["dup_line_frac"] <= max_dup_line_frac)
        & (m["dup_line_char_frac"] <= max_dup_line_char_frac)
        & (m["top_2gram_frac"] <= max_top_2gram_frac)
    )


# -- full Gopher repetition suite (Table A1, rows 9-21) -----------------------
#
# Char accounting convention (documented; both engines compute the same
# value): all character fractions count TOKEN characters only — an n-gram's
# char length is the sum of its tokens' lengths (its joined length minus
# the n-1 separator spaces), and denominators are the document's total
# token chars. The paper does not pin down whitespace handling; this
# choice makes every fraction reach exactly 1.0 on a fully-repeated
# document. All metrics are per-document O(P²) / O(G²·n) array lambdas
# (P = parts, G = grams per document — tens to hundreds), never
# corpus-sized.


def paragraphs_col(text: Column | str) -> Column:
    """Non-empty whitespace-trimmed paragraphs (blank-line separated)."""
    parts = F.transform(F.split(_c(text), r"\n{2,}"), lambda p: F.trim(p))
    return F.filter(parts, lambda p: p != "")


def dup_frac_from_parts(parts: Column) -> Column:
    """Fraction of entries that repeat an earlier entry."""
    n = F.size(parts)
    dups = n - F.size(F.array_distinct(parts))
    return F.when(n > 0, dups.cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )


def dup_char_frac_from_parts(parts: Column) -> Column:
    """Fraction of characters inside entries that occur more than once
    (ALL copies of a duplicated entry count, per the paper)."""
    total = F.aggregate(
        parts, F.lit(0).cast("long"), lambda a, p: a + F.length(p)
    )
    dup_chars = F.aggregate(
        parts,
        F.lit(0).cast("long"),
        lambda a, p: a
        + F.when(
            F.size(F.filter(parts, lambda x: x == p)) > 1, F.length(p)
        ).otherwise(F.lit(0)),
    )
    return F.when(
        total > 0, dup_chars.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))


def _grams(ws: Column, n: int) -> Column:
    """Non-distinct word n-grams (joined with single spaces)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )


def _token_chars(ws: Column) -> Column:
    return F.aggregate(ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w))


def grams_guarded_col(ws: Column, n: int) -> Column:
    """n-grams of a word array, empty (not descending!) when the document
    is shorter than n tokens."""
    win = _grams(ws, n)
    return F.when(F.size(ws) >= n, win).otherwise(
        F.array().cast("array<string>")
    )


def dupflags_col(grams: Column) -> Column:
    return F.transform(
        grams, lambda g: F.size(F.filter(grams, lambda x: x == g)) > 1
    )


def _top_frac_from_grams(grams: Column, tot: Column, n: int) -> Column:
    top = F.array_max(
        F.transform(
            F.array_distinct(grams),
            lambda g: (
                F.size(F.filter(grams, lambda x: x == g))
                * (F.length(g) - (n - 1))
            ).cast("long"),
        )
    )
    return F.when(
        (F.size(grams) > 0) & (tot > 0),
        top.cast("double") / tot.cast("double"),
    ).otherwise(F.lit(0.0))


def _dup_frac_from_flags(
    ws: Column, flags: Column, tot: Column, n: int
) -> Column:
    n_g = F.size(flags)
    covered = F.aggregate(
        F.sequence(F.lit(1), F.size(ws)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.when(
            F.exists(
                F.sequence(
                    F.greatest(F.lit(1), j - (n - 1)), F.least(j, n_g)
                ),
                lambda i: F.element_at(flags, i),
            ),
            F.length(F.element_at(ws, j)),
        ).otherwise(F.lit(0)),
    )
    return F.when(
        (n_g > 0) & (tot > 0), covered.cast("double") / tot.cast("double")
    ).otherwise(F.lit(0.0))


def gopher_repetition_frame(df, text_col: str, out_prefix: str = ""):
    """Add all 13 Table A1 repetition metrics (rows 9-20) as columns:
    line/paragraph dup fractions by count and by chars, top 2/3/4-gram
    char fractions, dup 5..10-gram char fractions, rounded to 6 dp so the
    oracle compare is exact. The word/gram/dup-flag arrays are STAGED as
    real columns first, so each is computed once per row — inlined into
    every lambda, the gram construction is neither de-duplicated across
    lambda boundaries nor codegened compactly (a 13-metric struct stalls
    compilation). Still shuffle-free: a chain of per-row projections."""
    ws = F.transform(words_col(F.col(text_col)), F.lower)
    staged = df.withColumn("_ws", ws).withColumn("_tot", _token_chars(F.col("_ws")))
    for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
        staged = staged.withColumn(f"_g{n}", grams_guarded_col(F.col("_ws"), n))
    for n in range(5, 11):
        staged = staged.withColumn(f"_f{n}", dupflags_col(F.col(f"_g{n}")))
    ls = lines_col(F.col(text_col))
    ps = paragraphs_col(F.col(text_col))
    p = out_prefix
    out = (
        staged.withColumn(p + "dup_line_frac", F.round(dup_frac_from_parts(ls), 6))
        .withColumn(p + "dup_line_char_frac", F.round(dup_char_frac_from_parts(ls), 6))
        .withColumn(p + "dup_para_frac", F.round(dup_frac_from_parts(ps), 6))
        .withColumn(p + "dup_para_char_frac", F.round(dup_char_frac_from_parts(ps), 6))
    )
    for n in (2, 3, 4):
        out = out.withColumn(
            f"{p}top_{n}gram_char_frac",
            F.round(
                _top_frac_from_grams(F.col(f"_g{n}"), F.col("_tot"), n), 6
            ),
        )
    for n in range(5, 11):
        out = out.withColumn(
            f"{p}dup_{n}gram_char_frac",
            F.round(
                _dup_frac_from_flags(
                    F.col("_ws"), F.col(f"_f{n}"), F.col("_tot"), n
                ),
                6,
            ),
        )
    drop = ["_ws", "_tot"] + [f"_g{n}" for n in (2, 3, 4, 5, 6, 7, 8, 9, 10)] + [
        f"_f{n}" for n in range(5, 11)
    ]
    return out.drop(*drop)


def gopher_repetition_gate_col(metrics: Column) -> Column:
    """Keep/reject over a struct of ``gopher_repetition_frame``'s 13
    columns (un-prefixed field names) with the paper's
    published thresholds (Table A1): dup line/para frac ≤ 0.30/0.30,
    dup line/para char frac ≤ 0.20/0.20, top 2/3/4-gram ≤ 0.20/0.18/0.16,
    dup 5..10-gram ≤ 0.15/0.14/0.13/0.12/0.11/0.10."""
    m = metrics
    keep = (
        (m["dup_line_frac"] <= 0.30)
        & (m["dup_para_frac"] <= 0.30)
        & (m["dup_line_char_frac"] <= 0.20)
        & (m["dup_para_char_frac"] <= 0.20)
    )
    for n, t in ((2, 0.20), (3, 0.18), (4, 0.16)):
        keep = keep & (m[f"top_{n}gram_char_frac"] <= t)
    for n, t in zip(range(5, 11), (0.15, 0.14, 0.13, 0.12, 0.11, 0.10)):
        keep = keep & (m[f"dup_{n}gram_char_frac"] <= t)
    return keep


# -- C4 line/page cleaning ----------------------------------------------------


def _c4_line_keep(line: Column, min_words_per_line: int) -> Column:
    lower = F.lower(line)
    ends_ok = F.array_contains(
        F.array(*[F.lit(t) for t in C4_TERMINAL]), F.substring(line, -1, 1)
    )
    enough_words = (
        F.size(F.filter(F.split(line, r"\s+"), lambda w: w != ""))
        >= min_words_per_line
    )
    # containment check per blocklist fragment (unrolled — the list is 3)
    clean = F.lit(True)
    for frag in C4_BAD_FRAGMENTS:
        clean = clean & ~lower.contains(frag)
    return ends_ok & enough_words & clean


def c4_clean_col(text: Column | str, min_words_per_line: int = 5) -> Column:
    """C4 line filter as a struct: lines are kept iff they end in terminal
    punctuation, have ≥ ``min_words_per_line`` words, and contain none of
    the blocklist fragments ("javascript", "lorem ipsum", "{"). Returns
    (text_clean, n_lines, n_lines_kept); the paper's page gate (≥ 3
    surviving sentences) is ``c4_page_gate_col`` over this struct."""
    ls = lines_col(text)
    kept = F.filter(ls, lambda l: _c4_line_keep(l, min_words_per_line))
    return F.struct(
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(ls).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_lines_kept"),
    )


def c4_page_gate_col(clean_struct: Column, min_lines_kept: int = 3) -> Column:
    """Page-level keep: ≥ ``min_lines_kept`` surviving lines (the
    documented stand-in for the paper's ≥ 3 sentences)."""
    return clean_struct["n_lines_kept"] >= min_lines_kept
