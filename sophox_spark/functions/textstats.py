"""Text-analysis columns for the documents/pages tables.

Training-data-pipeline operators over ``documents(text, lang, ...)``:
language-ID (stopword-hit heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace split), and
document fingerprinting (normalized-text hash). Everything is a native
Spark Column expression — JVM-side, whole-stage-codegen'd, and each has
an exactly equivalent ANSI-SQL form for the DuckDB oracle (the SQL
strings live in __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tiny deterministic stopword profiles; enough signal for synthetic docs
LANG_PROFILES: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to "],
    "de": [" der ", " und ", " die ", " nicht "],
    "fr": [" le ", " et ", " les ", " des "],
    "es": [" el ", " y ", " los ", " que "],
}


def occurrence_count(text: Column, needle: str) -> Column:
    """# of occurrences of a literal substring (portable: same formula
    works in DuckDB as (length(x)-length(replace(x,n,'')))/length(n))."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum(occurrence_count(padded, w) for w in words)
        for lang, words in LANG_PROFILES.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language by stopword hits; 'und' (undetermined) when all
    scores are zero. Deterministic tie-break by profile order."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    # iterate reversed so earlier profiles win ties (strict >)
    for lang in reversed(list(scores)):
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def token_count(text: Column) -> Column:
    """Whitespace tokens (empty text → 0)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the exact-dedup key (portable: DuckDB md5())."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def repetition_stats(df, key: str = "doc_id", text_col: str = "text"):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    the standard crawl-filtering heuristics) per document:

    * ``dup_line_frac`` — fraction of lines that repeat an earlier
      line: 1 − distinct/total
    * ``dup_line_char_frac`` — characters inside the REPEATED line
      occurrences over all line characters
    * ``top_bigram`` / ``top_bigram_frac`` — the most frequent word
      2-gram (ties break lexicographically) and the character fraction
      its occurrences cover

    All native exprs: one explode per signal family + grouped aggs —
    JVM-side, shuffle on ``key`` only, linear in corpus size."""
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    k = F.col(key)
    lines = df.select(
        k, F.explode(F.split(F.col(text_col), "\n")).alias("line")
    )
    per = (
        lines.groupBy(key, "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(key, "c", F.length("line").alias("ln"))
    )
    doc_lines = per.groupBy(key).agg(
        F.sum("c").alias("n_lines"),
        (F.lit(1.0) - F.count(F.lit(1)) / F.sum("c")).alias("dup_line_frac"),
        (
            F.sum((F.col("c") - 1) * F.col("ln"))
            / F.greatest(F.sum(F.col("c") * F.col("ln")), F.lit(1))
        ).cast("double").alias("dup_line_char_frac"),
    )
    toks = df.select(
        k,
        F.length(text_col).alias("n_chars"),
        F.posexplode(
            F.split(F.regexp_replace(F.col(text_col), "\n", " "), r"\s+")
        ).alias("pos", "tok"),
    ).filter(F.length("tok") > 0)
    w = Window.partitionBy(key).orderBy("pos")
    bigrams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            k, "n_chars",
            F.concat_ws(" ", "tok", "nxt").alias("bg"),
        )
    )
    bgc = bigrams.groupBy(key, "n_chars", "bg").agg(
        F.count(F.lit(1)).alias("c")
    )
    wr = Window.partitionBy(key).orderBy(F.desc("c"), F.asc("bg"))
    top = (
        bgc.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select(
            key,
            F.col("bg").alias("top_bigram"),
            (
                F.col("c") * F.length("bg")
                / F.greatest(F.col("n_chars"), F.lit(1))
            ).cast("double").alias("top_bigram_frac"),
        )
    )
    return doc_lines.join(top, key, "left")


# PII scrubbing: standard hygiene pass before a crawl corpus becomes
# training data. Patterns are deliberately conservative (precision
# over recall) and every replacement is a typed placeholder so counts
# stay auditable. Pure regexp_replace/regexp_count — JVM-side.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    # (category, regex, placeholder)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4",
     r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
     r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b",
     "<IP>"),
    ("phone",
     r"(?<![0-9])\+?[0-9]{1,3}[-. ]\(?[0-9]{2,4}\)?[-. ][0-9]{3,4}"
     r"[-. ][0-9]{3,4}(?![0-9])",
     "<PHONE>"),
)


def scrub_pii(text: Column) -> tuple[Column, dict[str, Column]]:
    """(scrubbed text, {category: match count}) — emails, IPv4
    addresses, and separator-delimited phone numbers become typed
    placeholders. Passes run email -> ip -> phone on the running
    text, so each character is claimed by at most one category."""
    counts = {}
    out = text
    for cat, pat, repl in PII_PATTERNS:
        counts[cat] = F.regexp_count(out, F.lit(pat))
        out = F.regexp_replace(out, pat, repl)
    return out, counts


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models",
# appendix A1.1 — the standard crawl-filter recipe): document-level
# signal columns + the pass/fail conjunction. Everything is a
# higher-order-function expression over ONE materialized word array and
# ONE materialized line array — zero shuffle, zero Python, linear scan
# per document, so the operator is embarrassingly parallel at 100 TB.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(df, key: str = "doc_id", text_col: str = "text"):
    """Per-document Gopher filter signals and verdict:

    * ``n_words`` / ``mean_word_len`` — whitespace words; rule bands
      50..100000 and 3..10
    * ``alpha_word_frac`` — words containing an alphabetic char; >= 0.8
    * ``symbol_word_ratio`` — '#' and '...' occurrences per word; <= 0.1
    * ``bullet_line_frac`` — lines starting with a bullet; <= 0.9
    * ``ellipsis_line_frac`` — lines ending in '...'; <= 0.3
    * ``stop_hits`` — distinct Gopher stopwords present; >= 2
    * ``passes`` — the conjunction (1/0)

    The word/line arrays are projected ONCE in a first select and only
    then referenced by lambdas — referencing a computed split() inside
    a higher-order function re-evaluates it per element (no CSE inside
    lambdas), which is the O(n^2) trap the sf1 soak caught in
    decontaminate."""
    t = F.col(text_col)
    d = df.select(
        F.col(key),
        t.alias("__t"),
        F.filter(
            F.split(t, r"\s+"), lambda w: F.length(w) > 0
        ).alias("__words"),
        F.split(t, "\n").alias("__lines"),
    )
    words = F.col("__words")
    lines = F.col("__lines")
    nw = F.greatest(F.size(words), F.lit(1))
    nl = F.greatest(F.size(lines), F.lit(1))
    padded = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col("__t")), r"\s+", " "),
        F.lit(" "),
    )
    stop_hits = sum(
        F.contains(padded, F.lit(f" {w} ")).cast("int")
        for w in GOPHER_STOPWORDS
    )
    out = d.select(
        F.col(key),
        F.size(words).alias("n_words"),
        (
            F.aggregate(
                F.transform(words, lambda w: F.length(w).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            / nw
        ).cast("double").alias("mean_word_len"),
        (
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / nw
        ).cast("double").alias("alpha_word_frac"),
        (
            (
                occurrence_count(F.col("__t"), "#")
                + occurrence_count(F.col("__t"), "...")
            )
            / nw
        ).cast("double").alias("symbol_word_ratio"),
        (
            F.size(
                F.filter(
                    lines,
                    lambda l: F.startswith(F.ltrim(l), F.lit("•"))
                    | F.startswith(F.ltrim(l), F.lit("- ")),
                )
            )
            / nl
        ).cast("double").alias("bullet_line_frac"),
        (
            F.size(F.filter(lines, lambda l: F.endswith(F.rtrim(l), F.lit("..."))))
            / nl
        ).cast("double").alias("ellipsis_line_frac"),
        stop_hits.cast("int").alias("stop_hits"),
    )
    passes = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("stop_hits") >= 2)
    )
    return out.withColumn("passes", passes.cast("int"))


def c4_filters(df, key: str = "doc_id", text_col: str = "text"):
    """C4 cleaning rules (Raffel et al. 2020 §2.2): line-level — keep
    only lines ending in terminal punctuation, with at least 3 words,
    and not mentioning javascript; document-level — drop pages
    containing 'lorem ipsum' or a curly brace, or whose retained text
    has fewer than 5 sentences (terminal-punctuation count as the
    sentence proxy).

    Same execution shape as gopher_rules: the line array materializes
    once, every rule is a lambda over it, the cleaned text reassembles
    with array_join — no shuffle, no Python. Output: (key, clean_text,
    n_kept, n_dropped, keep_doc 1/0)."""
    t = F.col(text_col)
    d = df.select(
        F.col(key), t.alias("__t"), F.split(t, "\n").alias("__lines")
    )
    lines = F.col("__lines")

    def _line_ok(l):
        trimmed = F.trim(l)
        words = F.filter(F.split(trimmed, r"\s+"), lambda w: F.length(w) > 0)
        return (
            (
                F.endswith(trimmed, F.lit("."))
                | F.endswith(trimmed, F.lit("!"))
                | F.endswith(trimmed, F.lit("?"))
                | F.endswith(trimmed, F.lit('."'))
            )
            & (F.size(words) >= 3)
            & ~F.contains(F.lower(l), F.lit("javascript"))
        )

    kept = F.filter(lines, _line_ok)
    clean = F.array_join(F.transform(kept, F.trim), "\n")
    out = d.select(
        F.col(key),
        clean.alias("clean_text"),
        F.size(kept).alias("n_kept"),
        (F.size(lines) - F.size(kept)).alias("n_dropped"),
        (
            ~F.contains(F.lower(F.col("__t")), F.lit("lorem ipsum"))
            & ~F.contains(F.col("__t"), F.lit("{"))
            & ~F.contains(F.col("__t"), F.lit("}"))
            & (
                occurrence_count(clean, ".")
                + occurrence_count(clean, "!")
                + occurrence_count(clean, "?")
                >= 5
            )
        ).cast("int").alias("keep_doc"),
    )
    return out


# BPE-style pre-tokenizer (the GPT-2 pattern family): contraction
# suffixes, optionally-space-prefixed letter runs / digit runs /
# punctuation runs, residual whitespace. Deliberately restated without
# the original's `\s+(?!\S)` lookahead so the SAME pattern runs under
# Java regex (Spark, leftmost-first) and RE2 (DuckDB oracle, no
# lookahead support) with identical match counts — verified across the
# documents corpus and adversarial unicode/contraction strings.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def pretoken_count(text: Column) -> Column:
    """BPE-ish token count: number of pre-tokenizer segments. The
    standard cheap proxy for LLM token budgets (BPE merges only ever
    split WITHIN a pre-token, so this lower-bounds and tightly tracks
    the true BPE count). Pure JVM regexp_count — no Python, no UDF."""
    return F.regexp_count(text, F.lit(BPE_PRETOKEN_RE)).cast("long")


# Unicode script ranges used for crawl-corpus script detection. Kept to
# BMP blocks expressible as contiguous codepoint ranges so the same
# predicate compiles to a regexp count in Spark AND DuckDB.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z\\u00C0-\\u024F",
    "cyrillic": "\\u0400-\\u04FF",
    "greek": "\\u0370-\\u03FF",
    "arabic": "\\u0600-\\u06FF",
    "cjk": "\\u4E00-\\u9FFF\\u3040-\\u30FF\\uAC00-\\uD7AF",
}


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script letter counts: length minus length-after-removal —
    the same subtraction trick as occurrence_count, fully portable."""
    return {
        name: (
            F.length(text)
            - F.length(F.regexp_replace(text, f"[{rng}]", ""))
        ).cast("long")
        for name, rng in SCRIPT_RANGES.items()
    }


def dominant_script(text: Column) -> Column:
    """argmax script by letter count; 'none' when no script letters.
    Deterministic tie-break: forward iteration with strict > keeps the
    FIRST entry in SCRIPT_RANGES declaration order on equal counts —
    the same latin-first resolution as the q_script_detect oracle's
    CASE chain (previously reversed iteration resolved ties to the
    LAST entry; the divergence was latent because the parity fixture
    is tie-free, ADVICE r6). The standard crawl signal next to
    lang_id: a 'lang=en' doc in Cyrillic script is a mislabeling red
    flag."""
    counts = script_counts(text)
    best_name = F.lit("none")
    best = F.lit(0).cast("long")
    for name in list(counts):
        c = counts[name]
        better = c > best
        best_name = F.when(better, F.lit(name)).otherwise(best_name)
        best = F.when(better, c).otherwise(best)
    return best_name
