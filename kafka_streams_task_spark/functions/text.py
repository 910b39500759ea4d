"""Text-analysis functions for large-scale training-data pipelines.

All hot-path functions are native Spark column expressions (codegen, no
Python); only genuinely procedural pieces (minhash permutations) use
numpy-vectorized Pandas UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small English stopword list (public domain; the standard top function
#: words). Used for stopword-ratio quality signals.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "as", "with", "at", "by", "from", "be",
)


# Explicit whitespace class, used on BOTH engines: Java regex \s includes
# vertical tab \x0B while DuckDB's RE2 \s is [\t\n\f\r ], so a bare \s+
# would tokenize documents containing \x0B differently between the Spark
# queries and their DuckDB oracles. Spelling the class out pins identical
# semantics everywhere (oracle SQL uses the same class).
WHITESPACE_RE = r"[ \t\n\r\f]+"


def tokens(text: Column | str, pattern: str = WHITESPACE_RE) -> Column:
    """Whitespace tokenization -> array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), pattern)


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish subword-boundary tokenization: split on whitespace AND
    letter/digit/punct boundaries — a deterministic, regex-only approximation
    of byte-pair tokenizer granularity for token-count estimation.

    Lookahead-free (plain capture groups, applied globally twice for the
    letter<->digit boundaries), so the identical rules run under both Java
    regex (Spark) and RE2 (DuckDB oracle)."""
    c = F.col(text) if isinstance(text, str) else text
    marked = F.regexp_replace(c, r"([a-zA-Z])([0-9])", r"$1 $2")
    marked = F.regexp_replace(marked, r"([0-9])([a-zA-Z])", r"$1 $2")
    marked = F.regexp_replace(marked, r"([^a-zA-Z0-9 \t\n\r\f])", r" $1 ")
    return F.split(F.trim(marked), WHITESPACE_RE)


def _char_ranges(*bounds: int) -> str:
    """Char-class body from codepoint pairs via chr() — NEVER source
    literals for compatibility/combining codepoints: NFC-normalizing
    tooling silently rewrites them (U+F900 -> U+8C48 was caught live
    widening a class over Hangul), and chr() is immune to file
    encoding."""
    assert len(bounds) % 2 == 0
    return "".join(
        f"{chr(a)}-{chr(b)}" for a, b in zip(bounds[::2], bounds[1::2])
    )


#: BMP ranges of scripts written WITHOUT inter-word spaces (class body,
#: no brackets — splice into regex char classes). Whitespace tokenization
#: sees whole sentences as one "token" on these scripts, so vocab/KN-LM/
#: BM25/shingle-dedup/Gopher all silently degrade on zh/ja/th corpora
#: (VERDICT r10 item 2). Korean is EXCLUDED: Hangul text uses spaces.
#: The class string works unchanged in Java regex (Spark) and RE2
#: (DuckDB oracle twins).
NOSPACE_SCRIPT_CLASS = _char_ranges(
    0x4E00, 0x9FFF,  # CJK Unified Ideographs
    0x3400, 0x4DBF,  # CJK Extension A
    0xF900, 0xFAFF,  # CJK Compatibility Ideographs
    0x3040, 0x309F,  # Hiragana
    0x30A0, 0x30FF,  # Katakana
    0x31F0, 0x31FF,  # Katakana Phonetic Extensions
    0x3005, 0x3005,  # iteration mark (idiomatic in zh/ja)
    0x3007, 0x3007,  # ideographic zero
    0x0E00, 0x0E3A,  # Thai letters/vowels (digits+punct excluded)
    0x0E40, 0x0E4E,  # Thai leading vowels/tones
    0x0E80, 0x0EFF,  # Lao
    0x1000, 0x109F,  # Myanmar
    0x1780, 0x17FF,  # Khmer
)

#: ASCII Record Separator: run delimiter inserted by tokens_unicode —
#: never appears in natural text, survives both engines' regex literally
_RS = "\x1e"


def segment_nospace_chars(text: Column | str) -> Column:
    """string -> string: insert spaces around every no-space-script
    codepoint, leaving all other text byte-identical. One global
    ``regexp_replace`` — pure codegen, map-only.

    This is the THREADING form (VERDICT r10 item 2): pre-segment the text
    column once and every downstream whitespace tokenizer — vocab build,
    KN-LM fit/score, BM25, shingle dedup, Gopher quality — sees
    per-character CJK/Thai units instead of sentence-sized blobs, with
    zero operator-signature changes. Latin/space corpora pass through
    unchanged (the regex matches nothing), so applying it unconditionally
    is the auto mode."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, f"([{NOSPACE_SCRIPT_CLASS}])", " $1 ")


#: languages whose scripts are written without inter-word spaces — the
#: default routing set for :func:`segment_routed` (labels produced by
#: :func:`lang_id_script`; 'lo'/'my'/'km' included for caller-supplied
#: labels even though lang_id_script itself never emits them)
NOSPACE_LANGS = ("zh", "ja", "th", "lo", "my", "km")


def segment_routed(
    text: Column | str,
    lang: Column | str | None = None,
    nospace_langs: tuple[str, ...] = NOSPACE_LANGS,
) -> Column:
    """The segmentation ROUTER (r12, VERDICT r11 item 5): apply
    :func:`segment_nospace_chars` iff the document's language is a
    no-space-script language, else pass the text through byte-identical
    — the capstone's ``when(...)`` shape as a library verb.

    ``lang`` is an optional caller-supplied label column (corpus
    metadata, an external classifier) that OVERRIDES the default
    :func:`lang_id_script` heuristic. This is the documented escape
    hatch for script-level ID's inherent ambiguity — a kanji-only
    Japanese document carries no kana, so the heuristic reads it 'zh'
    (contract pinned in script_mix_suite); a caller that knows better
    passes its own label and the router honors it. Note both 'zh' and
    'ja' route to the same segmentation, so the ambiguity only changes
    the LABEL, never the tokenization — the override matters when the
    caller's label moves a doc across the spaced/no-space boundary
    (e.g. han-bearing Korean labeled 'ko').

    Pure codegen either way; safe in any 100 TB map stage."""
    c = F.col(text) if isinstance(text, str) else text
    label = (
        (F.col(lang) if isinstance(lang, str) else lang)
        if lang is not None
        else lang_id_script(c)
    )
    return F.when(
        label.isin(*nospace_langs), segment_nospace_chars(c)
    ).otherwise(c)


def tokens_unicode(text: Column | str, mode: str = "bigram") -> Column:
    """Unicode-segmentation tokenizer -> array<string>: whitespace tokens
    for spaced scripts, per-run character bigrams (``mode='bigram'``, the
    Lucene CJKAnalyzer convention — run ``c1c2c3`` -> ``c1c2, c2c3``;
    single-char run -> itself) or single characters (``mode='char'``) for
    the no-space scripts. Identical to :func:`tokens` on text containing
    no no-space-script codepoints — the regression gate pins this.

    Pure codegen (regexp run marking -> split -> per-run ``transform``
    over a ``sequence``): no Python stage, no shuffle — safe in any
    100 TB map stage. Bigrams keep adjacency WITHIN a run only (runs are
    isolated before expansion), so tokens never span a space or a Latin
    boundary."""
    if mode not in ("bigram", "char"):
        raise ValueError(f"mode must be 'bigram' or 'char', got {mode!r}")
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    marked = F.regexp_replace(
        trimmed, f"([{NOSPACE_SCRIPT_CLASS}]+)", f"{_RS}$1{_RS}"
    )
    parts = F.filter(
        F.split(marked, f"[{_RS} \t\n\r\f]+"), lambda x: x != F.lit("")
    )
    if mode == "char":
        def expand(r: Column) -> Column:
            return F.transform(
                F.sequence(F.lit(1), F.length(r)),
                lambda i: r.substr(i, F.lit(1)),
            )
    else:
        def expand(r: Column) -> Column:
            return F.when(F.length(r) == 1, F.array(r)).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length(r) - 1),
                    lambda i: r.substr(i, F.lit(2)),
                )
            )
    segmented = F.flatten(
        F.transform(
            parts,
            lambda r: F.when(
                r.rlike(f"^[{NOSPACE_SCRIPT_CLASS}]"), expand(r)
            ).otherwise(F.array(r)),
        )
    )
    # parity with tokens(): empty/whitespace-only text yields [""] there
    # (split of the empty string), so mirror it — the regression gate
    # compares the two tokenizers array-for-array on whitespace corpora
    return F.when(F.length(trimmed) == 0, F.array(F.lit(""))).otherwise(
        segmented
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_ratio(text: Column | str) -> Column:
    t = tokens(text)
    return F.size(F.array_distinct(t)) / F.size(t)


def stopword_ratio(text: Column | str) -> Column:
    t = tokens(text)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(t, lambda x: F.array_contains(stop, x))) / F.size(t)


def avg_token_length(text: Column | str) -> Column:
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return total / F.size(t)


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0, 1]: rewards moderate length,
    lexical diversity, and a sane stopword ratio. Deterministic arithmetic
    only — SQL-mirrorable for the oracle."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    diversity = distinct_token_ratio(c)
    stop = stopword_ratio(c)
    stop_score = F.lit(1.0) - F.abs(stop - F.lit(0.2))
    from .rounding import stable_round

    return stable_round((len_score + diversity + stop_score) / F.lit(3.0), 6)


# PII patterns: kept to the regex subset Java (Spark rlike) and RE2 (DuckDB
# regexp_matches) interpret identically — char classes, bounded repeats, \b.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_flags(text: Column | str) -> list[Column]:
    """[has_email, has_phone, has_ipv4] int flags — regex detection of the
    classic scrub targets, all codegen ``rlike`` (no Python). Aliased so
    callers can splat them into a select."""
    c = F.col(text) if isinstance(text, str) else text
    return [
        c.rlike(PII_EMAIL_RE).cast("int").alias("has_email"),
        c.rlike(PII_PHONE_RE).cast("int").alias("has_phone"),
        c.rlike(PII_IPV4_RE).cast("int").alias("has_ipv4"),
    ]


def redact_pii(text: Column | str, replacement: str = "[PII]") -> Column:
    """Scrub the detected PII classes from the text — the transform a
    training pipeline applies after :func:`pii_flags` triage. Three chained
    ``regexp_replace`` (email, then phone, then ipv4, each global) — pure
    codegen, map-only; the fixed application ORDER is part of the contract
    so the DuckDB oracle reproduces the output byte-for-byte."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, PII_EMAIL_RE, replacement)
    out = F.regexp_replace(out, PII_PHONE_RE, replacement)
    return F.regexp_replace(out, PII_IPV4_RE, replacement)


#: The Gopher rule-set's stopword list (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", App. A1.1):
#: a document must contain at least 2 of these to pass the filter.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_columns(
    text: Column | str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> list[Column]:
    """The Gopher/MassiveWeb heuristic quality rules as codegen columns:
    ``[n_words, mean_word_len, symbol_word_ratio, bullet_line_ratio,
    ellipsis_line_ratio, alpha_word_ratio, gopher_stop_hits, gopher_pass]``.

    Rules (defaults are the published thresholds, Rae et al. 2021 App.
    A1.1): word count in [50, 100k]; mean word length in [3, 10] chars;
    symbol-to-word ratio ("#" or "...") <= 0.1; <= 90% of lines start with
    a bullet ("-", "*", or U+2022); <= 30% of lines end with an ellipsis;
    >= 80% of words contain an alphabetic character; >= 2 distinct
    stopwords from :data:`GOPHER_STOPWORDS` present. ``gopher_pass`` is the
    conjunction, as an int flag.

    Every signal is pure string/array arithmetic (split, replace-count,
    rlike, aggregate) — whole-stage codegen, no Python — and every ratio is
    ``stable_round``-ed so the DuckDB oracle reproduces it bit-for-bit.
    The pass flag compares the ROUNDED ratios, so the oracle's conjunction
    lands identically at threshold boundaries.
    """
    from .rounding import stable_round

    c = F.col(text) if isinstance(text, str) else text
    t = tokens(c)
    n = F.size(t)
    nd = n.cast("double")
    mean_wl = stable_round(
        F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / nd, 6
    )
    hash_cnt = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ell_cnt = (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / F.lit(3)
    symbol_ratio = stable_round((hash_cnt + ell_cnt) / nd, 6)
    lines = F.split(c, "\n")
    nl = F.size(lines).cast("double")
    bullet_ratio = stable_round(
        F.size(F.filter(lines, lambda x: x.rlike(r"^[ \t\r\f]*[-*•]"))).cast("double") / nl, 6
    )
    ellipsis_ratio = stable_round(
        F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.[ \t\r\f]*$"))).cast("double") / nl, 6
    )
    alpha_ratio = stable_round(
        F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]"))).cast("double") / nd, 6
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(F.transform(t, lambda x: F.lower(x))), stop_arr)
    )
    gopher_pass = (
        (n >= F.lit(min_words))
        & (n <= F.lit(max_words))
        & (mean_wl >= F.lit(min_mean_word_len))
        & (mean_wl <= F.lit(max_mean_word_len))
        & (symbol_ratio <= F.lit(max_symbol_word_ratio))
        & (bullet_ratio <= F.lit(max_bullet_line_ratio))
        & (ellipsis_ratio <= F.lit(max_ellipsis_line_ratio))
        & (alpha_ratio >= F.lit(min_alpha_word_ratio))
        & (stop_hits >= F.lit(min_stopword_hits))
    ).cast("int")
    return [
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_ratio.alias("bullet_line_ratio"),
        ellipsis_ratio.alias("ellipsis_line_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("gopher_stop_hits"),
        gopher_pass.alias("gopher_pass"),
    ]


def _excess_char_mass(arr: Column) -> Column:
    """Characters contained in EXCESS occurrences of duplicated elements:
    ``sum((count - 1) * length(value))`` over values appearing more than
    once in ``arr``. Zero-shuffle formulation: ``array_sort`` then one
    ``aggregate`` pass tracking (prev, run-length, accumulated chars) —
    the within-row equivalent of ``GROUP BY value HAVING count > 1``,
    O(k log k) per row, all JVM-side (higher-order array expressions)."""
    s = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("chars"),
    )

    def merge(acc: Column, x: Column) -> Column:
        same = x == acc["prev"]
        run = F.when(same, acc["run"] + F.lit(1)).otherwise(F.lit(1)).cast("long")
        # flush the finished run's excess chars when the value changes
        chars = (
            F.when(same | (acc["run"] == 0), acc["chars"])
            .otherwise(acc["chars"] + (acc["run"] - 1) * F.length(acc["prev"]).cast("long"))
        )
        return F.struct(x.alias("prev"), run.alias("run"), chars.alias("chars"))

    def finish(acc: Column) -> Column:
        return acc["chars"] + F.when(
            acc["run"] >= 2, (acc["run"] - 1) * F.length(acc["prev"]).cast("long")
        ).otherwise(F.lit(0))

    return F.aggregate(s, init, merge, finish)


def _top_value_run(arr: Column) -> Column:
    """Most frequent element of ``arr`` with deterministic tie-break
    (count DESC, value ASC) as ``struct(cnt, val)``. Same sorted-run
    scan as :func:`_excess_char_mass` — strict ``>`` over the ascending
    sort means the FIRST value reaching the maximal run wins, i.e. the
    lexicographically smallest among the tied. Empty array -> (0, null)."""
    s = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(None).cast("string").alias("val"),
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1)).cast("long")
        better = run > acc["cnt"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["cnt"]).alias("cnt"),
            F.when(better, x).otherwise(acc["val"]).alias("val"),
        )

    return F.aggregate(
        s, init, merge, lambda acc: F.struct(acc["cnt"].alias("cnt"), acc["val"].alias("val"))
    )


#: Published Gopher repetition thresholds (Rae et al. 2021, App. A1.1,
#: Table A1): a document FAILS the repetition filter when any fraction
#: exceeds its threshold. Keys match the column aliases emitted by
#: :func:`gopher_repetition_columns`.
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top2gram_char_frac": 0.20,
    "top3gram_char_frac": 0.18,
    "top4gram_char_frac": 0.16,
    "dup5gram_char_frac": 0.15,
    "dup6gram_char_frac": 0.14,
    "dup7gram_char_frac": 0.13,
    "dup8gram_char_frac": 0.12,
    "dup9gram_char_frac": 0.11,
    "dup10gram_char_frac": 0.10,
}


def gopher_repetition_columns(
    text: Column | str,
    *,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> list[Column]:
    """The Gopher/MassiveWeb REPETITION filter signals (Rae et al. 2021,
    App. A1.1 — the companion family to :func:`gopher_quality_columns`):

    - ``dup_line_frac`` / ``dup_para_frac`` — fraction of lines /
      paragraphs that are excess occurrences of a repeated line/paragraph
      (``1 - distinct/total``, the count-beyond-first formulation).
    - ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of the
      document's characters contained in those excess occurrences.
    - ``top{n}gram_char_frac`` (n in ``top_ns``) — characters covered by
      all occurrences of the single most frequent word n-gram, as a
      fraction of the document (ties broken count DESC, gram ASC).
    - ``dup{n}gram_char_frac`` (n in ``dup_ns``) — characters in excess
      occurrences of duplicated word n-grams. Defaults cover the
      published n=5..10 family's endpoints; pass the full range for
      strict parity (each n costs one extra sort+scan of the shingles).
    - ``repetition_pass`` — int flag: every emitted fraction is at or
      under its :data:`GOPHER_REPETITION_THRESHOLDS` threshold
      (compared on ROUNDED values, so threshold boundaries land
      identically in the DuckDB oracle).

    Every signal is pure array arithmetic (split / array_sort / one
    aggregate pass) — zero shuffle, zero Python, JVM-side expressions
    only (the plan is a single Project over the scan); at 100 TB this
    is a map-only stage over the corpus scan. Character
    fractions use ``length(text)`` as the denominator; all fractions are
    ``stable_round``-ed to 6dp.
    """
    from .rounding import stable_round

    c = F.col(text) if isinstance(text, str) else text
    nch = F.length(c).cast("double")

    def char_frac(mass: Column) -> Column:
        # clamp at 1.0: overlapping n-gram occurrences can carry more
        # characters than the document holds (each excess occurrence is
        # counted at full gram width, the published formulation); the
        # thresholds compared against are all <= 0.30, so clamping never
        # changes a verdict — it only keeps the stat a true fraction.
        return stable_round(
            F.when(nch > 0, F.least(mass.cast("double") / nch, F.lit(1.0))).otherwise(F.lit(0.0)),
            6,
        )

    stats: list[tuple[str, Column]] = []
    for unit, splitter in (("line", F.split(c, "\n")), ("para", F.split(c, r"\n{2,}"))):
        k = F.size(splitter).cast("double")
        dup_frac = stable_round(
            (k - F.size(F.array_distinct(splitter)).cast("double")) / k, 6
        )
        stats.append((f"dup_{unit}_frac", dup_frac))
        stats.append((f"dup_{unit}_char_frac", char_frac(_excess_char_mass(splitter))))
    n_toks = F.size(tokens(c))
    for n in top_ns:
        top = _top_value_run(shingles(c, n))
        # guards: a doc with < n tokens has NO n-gram (the shingles()
        # whole-text fallback would otherwise score it 1.0), and a top
        # gram occurring once is not repetition — it would score every
        # short unique doc by its longest n-gram
        mass = F.when(
            (n_toks >= n) & (top["cnt"] >= 2), top["cnt"] * F.length(top["val"]).cast("long")
        ).otherwise(F.lit(0))
        stats.append((f"top{n}gram_char_frac", char_frac(mass)))
    for n in dup_ns:
        stats.append((f"dup{n}gram_char_frac", char_frac(_excess_char_mass(shingles(c, n)))))

    passed = F.lit(True)
    for name, col in stats:
        passed = passed & (col <= F.lit(GOPHER_REPETITION_THRESHOLDS[name]))
    out = [col.alias(name) for name, col in stats]
    out.append(passed.cast("int").alias("repetition_pass"))
    return out


def _sql_str_lit(s: str) -> str:
    """Render a Python string as a Spark SQL string literal (default
    escapedStringLiterals=false: backslashes are escape chars, so double
    them; quotes escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _tokens_sql(c: str) -> str:
    """SQL fragment twin of :func:`tokens` over a column/fragment ``c``."""
    return f"split(trim({c}), {_sql_str_lit(WHITESPACE_RE)})"


def _grams_of_sql(t: str, n: int) -> str:
    """SQL fragment twin of :func:`_grams_of`. ``t`` must be a cheap
    reference (column name) — it is spliced once per element_at."""
    parts = ", ".join(f"element_at({t}, CAST(i + {j + 1} AS INT))" for j in range(n))
    return (
        f"CASE WHEN size({t}) >= {n} THEN "
        f"transform(sequence(0, size({t}) - {n}), i -> concat_ws(' ', {parts})) "
        f"ELSE array(array_join({t}, ' ')) END"
    )


def _excess_char_mass_sql(arr: str) -> str:
    """SQL fragment twin of :func:`_excess_char_mass` (parity pinned in
    tests/test_repetition.py)."""
    return (
        f"aggregate(array_sort({arr}), "
        "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS chars), "
        "(acc, x) -> struct(x AS prev, "
        "CAST(CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END AS BIGINT) AS run, "
        "CASE WHEN x = acc.prev OR acc.run = 0 THEN acc.chars "
        "ELSE acc.chars + (acc.run - 1) * CAST(length(acc.prev) AS BIGINT) END AS chars), "
        "acc -> acc.chars + CASE WHEN acc.run >= 2 THEN (acc.run - 1) * CAST(length(acc.prev) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    )


def _top_value_run_sql(arr: str) -> str:
    """SQL fragment twin of :func:`_top_value_run` (the merge's ``run``
    CASE repeats textually where the Column form shares a DAG node —
    same value, and the analyzed tree stays tiny)."""
    run = "CAST(CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END AS BIGINT)"
    return (
        f"aggregate(array_sort({arr}), "
        "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
        "CAST(0 AS BIGINT) AS cnt, CAST(NULL AS STRING) AS val), "
        f"(acc, x) -> struct(x AS prev, {run} AS run, "
        f"CASE WHEN {run} > acc.cnt THEN {run} ELSE acc.cnt END AS cnt, "
        f"CASE WHEN {run} > acc.cnt THEN x ELSE acc.val END AS val), "
        "acc -> struct(acc.cnt AS cnt, acc.val AS val))"
    )


def gopher_repetition_table(
    df,
    text: str = "text",
    *,
    keep: tuple[str, ...] = ("doc_id",),
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
):
    """Factored twin of :func:`gopher_repetition_columns` — identical
    output columns, bit-identical values, but built as a STACK of
    projections so every expensive array subexpression (splits, token
    array, sorted-run aggregates, top-gram structs) is bound ONCE as a
    named column and referenced as an attribute above.

    Why (guide §1/§5, r16 planning receipt): the single-projection column
    form re-embeds each subtree at every reference — ``repetition_pass``
    alone duplicates all 13 stat trees, ``char_frac`` duplicates each
    mass twice, the top-gram struct three times — and Catalyst planning
    walks every copy. Measured at sf0.1/local[32]: executedPlan 0.86s ->
    0.15s, fresh-DataFrame noop run 1.47s -> 0.61s, results
    pandas-assert-identical. ``CollapseProject`` keeps the factoring: it
    never inlines a non-cheap producer expression referenced more than
    once. Per-row work is unchanged (same expressions, evaluated once).

    Prefer this form for whole-table scoring; the column-list form stays
    for splicing single signals into an existing projection.
    """
    # the sorted-run aggregates and gram transforms are built as ONE-parse
    # F.expr fragments: the Column/lambda builders cost thousands of
    # synchronous py4j round trips per construction (measured 1.37s to
    # build this DataFrame via Columns vs ~5ms via fragments — §4's
    # JVM<->Python boundary, on the driver). Parity with the Column
    # builders is pinned in tests/test_repetition.py.
    c = F.col(text)
    lvl1 = df.select(
        *keep,
        F.length(c).cast("double").alias("_rep_nch"),
        F.split(c, "\n").alias("_rep_lines"),
        F.split(c, r"\n{2,}").alias("_rep_paras"),
        F.expr(_tokens_sql(f"`{text}`")).alias("_rep_toks"),
    )
    t = F.col("_rep_toks")
    lvl2 = lvl1.select(
        *keep,
        "_rep_nch",
        F.size(t).alias("_rep_ntoks"),
        *[
            col
            for unit in ("lines", "paras")
            for col in (
                F.size(F.col(f"_rep_{unit}")).cast("double").alias(f"_rep_k_{unit}"),
                F.size(F.array_distinct(F.col(f"_rep_{unit}"))).cast("double").alias(f"_rep_kd_{unit}"),
                F.expr(_excess_char_mass_sql(f"`_rep_{unit}`")).alias(f"_rep_em_{unit}"),
            )
        ],
        *[
            F.expr(_top_value_run_sql(_grams_of_sql("`_rep_toks`", n))).alias(f"_rep_top{n}")
            for n in top_ns
        ],
        *[
            F.expr(_excess_char_mass_sql(_grams_of_sql("`_rep_toks`", n))).alias(f"_rep_em{n}")
            for n in dup_ns
        ],
    )

    # levels 3-4 as selectExpr fragments (same py4j rationale; double
    # literals carry the D suffix — a bare 0.3 parses as DECIMAL in SQL
    # while F.lit(0.3) is a double). stable_round's +1e-9 bias matches
    # rounding.stable_round exactly.
    def srnd(expr: str) -> str:
        return f"round(({expr}) + 1E-9, 6)"

    def char_frac(mass: str) -> str:
        # same clamp rationale as gopher_repetition_columns
        return srnd(
            f"CASE WHEN `_rep_nch` > 0 THEN least(CAST(({mass}) AS DOUBLE) / `_rep_nch`, 1.0D) "
            "ELSE 0.0D END"
        )

    stats: list[tuple[str, str]] = []
    for unit, uname in (("lines", "line"), ("paras", "para")):
        stats.append(
            (
                f"dup_{uname}_frac",
                srnd(f"(`_rep_k_{unit}` - `_rep_kd_{unit}`) / `_rep_k_{unit}`"),
            )
        )
        stats.append((f"dup_{uname}_char_frac", char_frac(f"`_rep_em_{unit}`")))
    for n in top_ns:
        top = f"`_rep_top{n}`"
        mass = (
            f"CASE WHEN `_rep_ntoks` >= {n} AND {top}.cnt >= 2 "
            f"THEN {top}.cnt * CAST(length({top}.val) AS BIGINT) ELSE 0 END"
        )
        stats.append((f"top{n}gram_char_frac", char_frac(mass)))
    for n in dup_ns:
        stats.append((f"dup{n}gram_char_frac", char_frac(f"`_rep_em{n}`")))

    lvl3 = lvl2.selectExpr(
        *[f"`{k}`" for k in keep], *[f"{expr} AS {name}" for name, expr in stats]
    )
    passed = " AND ".join(
        f"{name} <= {GOPHER_REPETITION_THRESHOLDS[name]!r}D" for name, _ in stats
    )
    return lvl3.selectExpr(
        *[f"`{k}`" for k in keep],
        *[name for name, _ in stats],
        f"CAST(({passed}) AS INT) AS repetition_pass",
    )


def repetition_ratio(text: Column | str, n: int = 3) -> Column:
    """Duplicated word-n-gram fraction in [0, 1]: 1 - distinct/total
    shingles. Boilerplate and looping generations score high; natural prose
    scores near 0. Pure array arithmetic over ``shingles`` — codegen only."""
    sh = shingles(text, n)
    return F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / F.size(sh)


def _grams_of(t: Column, n: int) -> Column:
    """Word n-grams from an ALREADY-BOUND token array column (an attribute
    or lambda variable — do NOT pass a raw ``split`` tree: every
    ``element_at`` reference would re-evaluate it). Documents shorter than
    ``n`` tokens yield a single gram of the whole text."""
    k = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(0), k - F.lit(n)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]),
    )
    return F.when(k >= n, grams).otherwise(F.array(F.array_join(t, " ")))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles -> array<string> (for Jaccard / MinHash dedup).
    Documents shorter than ``n`` tokens yield a single shingle of the whole
    text so they still participate.

    The token array is let-bound through a single-element ``transform`` so
    each of the ~3x-per-shingle ``element_at`` references reads the lambda
    variable instead of re-splitting the text (without this, shingling a
    400-token document re-evaluates ``split`` ~1200 times)."""
    return F.element_at(
        F.transform(F.array(tokens(text)), lambda t: _grams_of(t, n)), 1
    )


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID over character classes + stopword hits.

    A real pipeline plugs in fastText/CLD3; this is the deterministic,
    dependency-free n-gram/stopword heuristic: scores a few languages by
    marker-word hits and falls back to script detection for CJK.
    """
    c = F.col(text) if isinstance(text, str) else text
    t = F.split(F.lower(c), WHITESPACE_RE)
    markers = {
        "en": ("the", "and", "of", "is", "with"),
        "de": ("der", "die", "und", "ist", "nicht"),
        "es": ("el", "la", "que", "de", "es"),
        "fr": ("le", "la", "et", "est", "les"),
    }
    scores = []
    for lang, words in markers.items():
        arr = F.array(*[F.lit(w) for w in words])
        scores.append(F.struct(F.size(F.array_intersect(F.array_distinct(t), arr)).alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    cjk = F.length(F.regexp_replace(c, r"[^一-鿿぀-ヿ]", "")) > 0
    return (
        F.when(cjk, F.lit("zh"))
        .when(best["hits"] > 0, best["lang"])
        .otherwise(F.lit("und"))
    )


#: script character classes for :func:`script_mix_columns` — identical
#: class strings run under Java regex AND RE2 (DuckDB oracle twins).
#: Codepoint-counting semantics: both engines' length() counts
#: codepoints over these BMP ranges. chr()-built (see
#: :func:`_char_ranges` — source literals corrupt under NFC tooling).
SCRIPT_CLASSES = {
    "han": _char_ranges(0x4E00, 0x9FFF, 0x3400, 0x4DBF, 0xF900, 0xFAFF),
    "kana": _char_ranges(0x3040, 0x309F, 0x30A0, 0x30FF, 0x31F0, 0x31FF),
    "hangul": _char_ranges(0xAC00, 0xD7A3),
    "thai": _char_ranges(0x0E00, 0x0E7F),
    "latin": "A-Za-z",
    "digit": "0-9",
}


def script_count(text: Column | str, script: str) -> Column:
    """Count of ``text``'s codepoints in the named script class —
    ``length`` of the text with every OTHER character stripped (one
    global ``regexp_replace``, pure codegen)."""
    c = F.col(text) if isinstance(text, str) else text
    cls = SCRIPT_CLASSES[script]
    return F.length(F.regexp_replace(c, f"[^{cls}]", ""))


def script_mix_columns(text: Column | str) -> list[Column]:
    """Per-script character fractions ``frac_han .. frac_digit`` —
    the script-mix profile of a document (the multilingual-corpus
    triage signal: route no-space scripts to
    :func:`segment_nospace_chars`, flag mixed-script spam, monitor a
    crawl's language composition). NULL fractions on empty/NULL text
    (no distribution to report). Codegen only; splat into a select."""
    c = F.col(text) if isinstance(text, str) else text
    total = F.length(c)
    return [
        F.try_divide(
            script_count(c, s).cast("double"), total.cast("double")
        ).alias(f"frac_{s}")
        for s in SCRIPT_CLASSES
    ]


def lang_id_script(text: Column | str) -> Column:
    """Script-first language ID: kana -> 'ja', hangul -> 'ko', thai ->
    'th', han (without kana) -> 'zh', else the stopword-marker
    heuristic (:func:`lang_id`: en/de/es/fr/und). Fixes lang_id's
    blind spots — it labels ALL CJK 'zh' (kanji+kana Japanese included)
    and knows nothing of Korean or Thai. ``lang_id`` itself stays
    frozen: its outputs are hashed by committed driver-gate legs.
    Precedence is the discriminating-script order: kana appears only in
    Japanese, hangul only in Korean, so each beats the shared-han
    signal; a mixed zh/ja doc with any kana reads 'ja' (the CJK
    ambiguity is inherent to script-level ID)."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.when(script_count(c, "kana") > 0, F.lit("ja"))
        .when(script_count(c, "hangul") > 0, F.lit("ko"))
        .when(script_count(c, "thai") > 0, F.lit("th"))
        .when(script_count(c, "han") > 0, F.lit("zh"))
        .otherwise(lang_id(c))
    )


def rolling_fingerprint(text: Column | str, window: int = 8) -> Column:
    """Document fingerprint: min of rolling xxhash64 over token windows
    (winnowing-style). Deterministic; used for cheap near-dup candidate
    blocking."""
    t = tokens(text)
    k = F.size(t)
    win = F.transform(
        F.sequence(F.lit(0), F.greatest(k - F.lit(window), F.lit(0))),
        lambda i: F.xxhash64(
            F.concat_ws(" ", F.slice(t, (i + 1).cast("int"), window))
        ),
    )
    return F.array_min(win)


def rolling_fingerprint_portable(text: Column | str, window: int = 8) -> Column:
    """Winnowing fingerprint over a PORTABLE hash: min over rolling token
    windows of the first 16 hex chars of md5(window text). Same selection
    semantics as :func:`rolling_fingerprint` but computable identically in
    any engine with md5 (used by the catalog so the fingerprint itself is
    oracle-checked; xxhash64 is the cheaper in-engine default)."""
    t = tokens(text)
    k = F.size(t)
    win = F.transform(
        F.sequence(F.lit(0), F.greatest(k - F.lit(window), F.lit(0))),
        lambda i: F.substring(
            F.md5(F.encode(F.concat_ws(" ", F.slice(t, (i + 1).cast("int"), window)), "utf-8")),
            1,
            16,
        ),
    )
    return F.array_min(win)


def char_entropy(text) -> F.Column:
    """Shannon entropy of the document's CHARACTER distribution in
    bits/char — the information-density quality signal (near-0 flags
    degenerate pad/repeat content, ~4+ is typical natural text; crawl
    filters cut both tails). Empty text scores 0.

    Zero-shuffle sorted-run aggregate (the ``gopher_repetition_columns``
    trade): sort the char array once, then ONE fold accumulates run
    lengths and Σ c·ln c, so the whole signal is a map-only column
    expression — H = (ln n − Σ c·ln c / n) / ln 2. O(n log n) per row,
    no explode, no Python. (Char granularity is UTF-16 units on the JVM
    vs codepoints in some other engines — identical on BMP text, which
    is what the oracle corpus holds.)"""
    c = F.col(text) if isinstance(text, str) else text
    arr = F.array_sort(F.split(c, ""))
    n = F.size(arr)

    def _close(s):
        run_d = s["run"].cast("double")
        return F.when(
            s["run"] > 0, s["acc"] + run_d * F.log(run_d)
        ).otherwise(s["acc"])

    acc = F.aggregate(
        arr,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("acc"),
        ),
        lambda s, ch: F.struct(
            ch.alias("prev"),
            F.when(ch == s["prev"], s["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(ch == s["prev"], s["acc"]).otherwise(_close(s)).alias("acc"),
        ),
        _close,
    )
    n_d = n.cast("double")
    h = (F.log(n_d) - acc / n_d) / F.log(F.lit(2.0))
    return F.when(n > 0, h).otherwise(F.lit(0.0))


def clean_text(
    text: Column | str,
    *,
    keep_newlines: bool = True,
) -> Column:
    """Pre-tokenization text normalization (r6) — the cleanup stage a
    crawl shard goes through before any token/quality operator:

    * control characters stripped (C0/C1 except tab + newline; DEL;
      zero-width space/joiners; BOM; soft hyphen),
    * exotic unicode spaces (NBSP, ogham/en/em/thin/ideographic spaces,
      line/paragraph separators) folded to plain space — tokenizers
      split on ``[ \\t\\n\\r\\f]``, so an NBSP-joined crawl would
      otherwise produce mega-tokens,
    * CRLF/CR folded to LF; horizontal runs squashed to one space;
      3+ newline runs squashed to 2 (paragraph break preserved),
    * leading/trailing whitespace trimmed.

    ``keep_newlines=False`` flattens everything to single spaces (the
    one-line-per-doc layout the exact-substring and line-dedup operators
    don't want, but embedding pipelines often do).

    One codegen regexp chain over the scan — no Python, no shuffle;
    deliberately NOT unicode NFC/NFKC (Spark has no native normalizer;
    that step belongs in a vectorized Arrow stage if a corpus needs it,
    and silently changing codepoints would break exact-dedup digests
    computed before/after — see SCALE.md).
    """
    c = F.col(text) if isinstance(text, str) else text
    # controls + format chars that hide inside crawled text
    c = F.regexp_replace(
        c,
        "[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f\\x80-\\x9f\\u200b\\u200c\\u200d\\u2060\\ufeff\\u00ad]",
        "",
    )
    # unicode space zoo -> plain space
    c = F.regexp_replace(
        c,
        "[\\u00a0\\u1680\\u2000-\\u200a\\u202f\\u205f\\u3000\\u2028\\u2029]",
        " ",
    )
    c = F.regexp_replace(c, "\\r\\n?", "\n")
    if keep_newlines:
        c = F.regexp_replace(c, "[ \\t\\f]+", " ")      # squash horizontal runs
        c = F.regexp_replace(c, " ?\\n ?", "\n")          # spaces hugging newlines
        c = F.regexp_replace(c, "\\n{3,}", "\n\n")       # cap blank runs
    else:
        c = F.regexp_replace(c, "[ \\t\\f\\n]+", " ")
    # edge trim must be whitespace-class-aware: Spark's trim() strips only
    # ASCII spaces, so leading/trailing newlines would survive and split
    # exact-dedup digests on trailing-newline crawl variants
    return F.regexp_replace(c, "^\\s+|\\s+$", "")


#: block-level HTML elements whose boundaries become newlines (paragraph
#: structure survives extraction; inline tags just vanish)
_HTML_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|blockquote|pre|section"
    "|article|header|footer|form|dl|dt|dd|hr|nav|aside|figure|figcaption"
)

#: the named entities worth decoding without a parser; numeric (&#NNN;)
#: and exotic named entities pass through untouched (documented — exact
#: decoding is an Arrow-stage concern, same boundary as NFC in clean_text)
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # LAST: earlier decodes must not re-expose an &amp;
)


def html_to_text(html: Column | str) -> Column:
    """Crawl-grade HTML → text as ONE codegen regexp chain — the step
    between a WARC response payload and :func:`clean_text`. Not a DOM
    parser (no Python in the hot path); the extraction trafilatura-style
    tools do with a tree is approximated the way C4's pipeline did:

    * ``<script>``/``<style>``/``<noscript>``/``<template>`` elements
      removed WITH their content (non-greedy, case-insensitive,
      dotall — inline JS/CSS never leaks into the corpus),
    * HTML comments and doctype/XML prologs removed,
    * block-element boundaries (:data:`_HTML_BLOCK_TAGS`) become
      newlines so paragraph structure survives for the line-dedup and
      quality operators; all remaining tags vanish,
    * the common named entities decode (``&amp;`` deliberately last so
      double-encoded text cannot re-expose a decodable entity).

    Compose ``clean_text(html_to_text(c))`` to collapse the whitespace
    the tag removal leaves behind. Malformed markup degrades softly: an
    unclosed ``<script`` costs its document tail, never the task.
    """
    c = F.col(html) if isinstance(html, str) else html
    # content-bearing containers go first, content and all
    c = F.regexp_replace(
        c, "(?is)<(script|style|noscript|template)\\b[^>]*>.*?</\\1\\s*>", " "
    )
    # unclosed container: drop to end-of-doc (soft degradation)
    c = F.regexp_replace(c, "(?is)<(script|style|noscript|template)\\b[^>]*>.*", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, "(?i)<!doctype[^>]*>|<\\?[^>]*\\?>", " ")
    c = F.regexp_replace(c, f"(?i)</?(?:{_HTML_BLOCK_TAGS})\\b[^>]*/?>", "\n")
    c = F.regexp_replace(c, "(?s)<[^>]*>", " ")
    for ent, repl in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(repl))
    return c


def html_title(html: Column | str) -> Column:
    """``<title>`` text (first one; entities NOT decoded — compose with
    the :data:`_HTML_ENTITIES` subset via :func:`html_to_text` if
    needed), NULL when absent. One codegen regexp_extract."""
    c = F.col(html) if isinstance(html, str) else html
    t = F.regexp_extract(c, "(?is)<title[^>]*>(.*?)</title\\s*>", 1)
    return F.when(t == "", F.lit(None).cast("string")).otherwise(F.trim(t))


def html_links(html: Column | str, absolute_only: bool = True) -> Column:
    """``href`` targets of anchor tags as an array<string> — the edge
    list a crawl link graph (PageRank domain weighting,
    ``operators/graph.py``) is built from. Codegen regexp_extract_all;
    fragments-only and javascript: pseudo-links are excluded by the
    pattern. Both quoted (``href="x"``) and legal-HTML unquoted
    (``href=/x``, common in old/machine-generated pages — VERDICT r7)
    attributes match; the two extracts are disjoint (an unquoted value
    cannot start with a quote), and unquoted links are APPENDED after
    the quoted ones rather than interleaved in document order.
    ``absolute_only`` keeps http(s) URLs and drops relative paths
    (resolving them against a base URL needs the page URL — do it with
    ``F.concat`` at the call site where the base is a column)."""
    c = F.col(html) if isinstance(html, str) else html
    # the prefix between '<a' and 'href' consumes quoted attribute
    # VALUES atomically ("[^"]*" | '[^']*' | one non-quote char), so
    # 'href=' occurring INSIDE another attribute's value — title="see
    # href=y", tracking params like href="/out?href=http://x" — can
    # never anchor a match and fabricate links (review r8)
    _pre = "(?:[^>\"']|\"[^\"]*\"|'[^']*')*?"
    quoted = F.regexp_extract_all(
        c, F.lit(f"(?i)<a\\b{_pre}\\bhref\\s*=\\s*[\"']([^\"'#>][^\"'>]*)[\"']"), 1
    )
    unquoted = F.regexp_extract_all(
        c, F.lit(f"(?i)<a\\b{_pre}\\bhref\\s*=\\s*([^\\s\"'>#][^\\s\"'>]*)"), 1
    )
    links = F.concat(quoted, unquoted)
    links = F.filter(links, lambda u: ~u.rlike("(?i)^(javascript|mailto|tel):"))
    if absolute_only:
        links = F.filter(links, lambda u: u.rlike("(?i)^https?://"))
    return links
