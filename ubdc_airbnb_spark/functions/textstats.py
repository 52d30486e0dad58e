"""Text-analysis functions for the training-data pipeline (north-star ops
on the ``documents`` table): token counting, quality scoring, language-ID
heuristic, and document fingerprinting — all native expressions that stay
inside whole-stage codegen over a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import rolling_fingerprint

#: Tiny per-language marker lexicons for the n-gram/stopword language-ID
#: heuristic. Deliberately deterministic and SQL-expressible so the DuckDB
#: oracle can replay the classification.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "de", "que", "los"),
}

#: BPE-ish token regex: words, numbers, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


import re as _re

_SIMPLE_NAME = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _fast_name(col: Column | str) -> str | None:
    """Return the backtick-safe identifier for the single-parse fast
    path, or None when the Column path must be used. Only SIMPLE names
    qualify: a dotted string like ``meta.text`` means a nested-field
    path under ``F.col`` semantics, which backtick-quoting would turn
    into a (nonexistent) literal top-level column name."""
    if isinstance(col, str) and _SIMPLE_NAME.match(col):
        return col
    return None


def words(col: Column | str) -> Column:
    """Whitespace tokens (empty strings removed)."""
    name = _fast_name(col)
    if name is not None:
        # single-parse path: one py4j round trip instead of ~10 (the
        # build phase of a query is pure driver latency at any scale)
        return F.expr(words_expr(f"`{name}`"))
    return F.filter(F.split(_c(col), r"\s+"), lambda w: F.length(w) > 0)


def words_expr(col_sql: str) -> str:
    """Spark-SQL text twin of :func:`words` for single-parse expression
    assembly (NOT the DuckDB oracle dialect — see ``*_sql`` helpers for
    that). ``col_sql`` is a SQL fragment, already quoted if needed."""
    return f"filter(split({col_sql}, '\\\\s+'), w -> length(w) > 0)"


def whitespace_token_count(col: Column | str) -> Column:
    return F.size(words(col))


def regex_token_count(col: Column | str, pattern: str = TOKEN_REGEX) -> Column:
    """BPE-ish token count via regexp extraction."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(pattern), F.lit(0)))


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of character n-grams (shingles) — feeds MinHash / Jaccard.

    Guarded for short strings: Spark's ``sequence(1, 0)`` counts *down*,
    so the empty case must short-circuit explicitly.

    Built as n-1 zip_with concatenations over shifted slices of the
    char array (the word_ngrams device) — LINEAR in string length; the
    per-index ``substring(c, i, n)`` form pays an O(i) UTF-8 seek per
    position, quadratic on long documents."""
    name = _fast_name(col)
    if name is not None:
        return F.expr(char_ngrams_expr(f"`{name}`", n))
    c = _c(col)
    chars = F.split(c, "")
    m = F.greatest(F.length(c) - (n - 1), F.lit(0))
    acc = F.slice(chars, F.lit(1), m)
    for k in range(1, n):
        nxt = F.slice(chars, F.lit(k + 1), m)
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, b))
    return F.when(F.length(c) >= n, acc).otherwise(F.array().cast("array<string>"))


def char_ngrams_expr(col_sql: str, n: int = 3) -> str:
    """Spark-SQL text twin of :func:`char_ngrams` (single-parse)."""
    return char_ngrams_arr_expr(f"split({col_sql}, '')", n, f"length({col_sql})")


def char_ngrams_arr_expr(arr_sql: str, n: int = 3, len_sql: str | None = None) -> str:
    """:func:`char_ngrams_expr` over a PRE-SPLIT char-array SQL fragment
    (``split(text, '')``), with the short-string guard on ``len_sql``
    (the cheap ``length(text)``; defaults to ``size(arr)``). Factoring
    the split into its own projection lets it run once per row instead
    of once per slice/size reference below (the zip_with builder
    references the array 2n+1 times, and higher-order functions are
    CodegenFallback, so no subexpression elimination merges them)."""
    if len_sql is None:
        len_sql = f"size({arr_sql})"
    m = f"greatest({len_sql} - {n - 1}, 0)"
    acc = f"slice({arr_sql}, 1, {m})"
    for k in range(1, n):
        acc = f"zip_with({acc}, slice({arr_sql}, {k + 1}, {m}), (a, b) -> concat(a, b))"
    return (
        f"CASE WHEN {len_sql} >= {n} THEN {acc} "
        f"ELSE cast(array() as array<string>) END"
    )


def word_ngrams_arr(ws: Column, n: int = 3) -> Column:
    """Array of word n-grams over a pre-tokenized word array — the i-th
    output gram starts at token index i (0-based), so ``posexplode``
    over it yields positional grams for free.

    Built as n-1 zip_with concatenations over shifted slices — O(words)
    per row, unlike the naive per-index ``slice`` which is O(words²)."""
    m = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    acc = F.slice(ws, F.lit(1), m)
    for k in range(1, n):
        nxt = F.slice(ws, F.lit(k + 1), m)
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(ws) >= n, acc).otherwise(F.array().cast("array<string>"))


def word_ngrams_arr_expr(arr_sql: str, n: int = 3) -> str:
    """Spark-SQL text twin of :func:`word_ngrams_arr` over a word-array
    SQL fragment (single-parse assembly)."""
    m = f"greatest(size({arr_sql}) - {n - 1}, 0)"
    acc = f"slice({arr_sql}, 1, {m})"
    for k in range(1, n):
        acc = f"zip_with({acc}, slice({arr_sql}, {k + 1}, {m}), (a, b) -> concat(a, ' ', b))"
    return (
        f"CASE WHEN size({arr_sql}) >= {n} THEN {acc} "
        f"ELSE cast(array() as array<string>) END"
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of word n-grams joined by a space (whitespace tokens)."""
    name = _fast_name(col)
    if name is not None:
        return F.expr(word_ngrams_expr(f"`{name}`", n))
    return word_ngrams_arr(words(col), n)


def word_ngrams_expr(col_sql: str, n: int = 3) -> str:
    """Spark-SQL text twin of :func:`word_ngrams` (single-parse assembly;
    same shifted-slice zip_with construction, so the physical expression
    is identical to the Column form — only the driver build cost differs:
    ~1 parse round trip vs ~300 py4j calls)."""
    return word_ngrams_arr_expr(words_expr(col_sql), n)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = _c(col)
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.length(stripped).cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    ws = words(col)
    stop = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop, F.lower(w))))
    return n_stop.cast("double") / F.greatest(F.size(ws), F.lit(1)).cast("double")


def mean_word_length(col: Column | str) -> Column:
    ws = words(col)
    total = F.aggregate(ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    return total.cast("double") / F.greatest(F.size(ws), F.lit(1)).cast("double")


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation,
    some stopwords, sane mean word length. Deterministic rational
    arithmetic (int/int divisions) so any engine reproduces it."""
    name = _fast_name(col)
    if name is not None:
        return F.expr(quality_score_expr(f"`{name}`"))
    c = _c(col)
    len_ok = F.least(F.length(c).cast("double") / F.lit(200.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(c) * F.lit(5.0), F.lit(1.0))
    stop_ok = F.least(stopword_ratio(c) * F.lit(10.0), F.lit(1.0))
    mwl = mean_word_length(c)
    mwl_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_ok + punct_pen + stop_ok + mwl_ok) / F.lit(4.0)


def quality_score_expr(col_sql: str) -> str:
    """Spark-SQL text twin of :func:`quality_score` (single-parse; all
    numeric literals carry the ``D`` double suffix so the arithmetic is
    IEEE-double exactly like the Column form, never DECIMAL).

    The words array is LAMBDA-BOUND (evaluated once): the stopword and
    mean-word-length terms reference it four times, and HOF lambdas are
    invisible to codegen subexpression elimination, so the inlined form
    re-split/re-filtered the text per reference — measured 4.09 →
    3.00 s on 50k docs at sf1 (r08, the lang-ID lesson applied here)."""
    c = col_sql
    ws = "g"
    stop = ", ".join(f"'{s}'" for s in LANG_MARKERS["en"])
    len_ok = f"least(CAST(length({c}) AS DOUBLE) / 200.0D, 1.0D)"
    punct_ratio_sql = (
        f"(CAST(length(regexp_replace({c}, '[A-Za-z0-9\\\\s]', '')) AS DOUBLE)"
        f" / CAST(greatest(length({c}), 1) AS DOUBLE))"
    )
    punct_pen = f"(1.0D - least({punct_ratio_sql} * 5.0D, 1.0D))"
    stop_ratio = (
        f"(CAST(size(filter({ws}, w -> array_contains(array({stop}), lower(w)))) AS DOUBLE)"
        f" / CAST(greatest(size({ws}), 1) AS DOUBLE))"
    )
    stop_ok = f"least({stop_ratio} * 10.0D, 1.0D)"
    mwl = (
        f"(CAST(aggregate({ws}, CAST(0 AS BIGINT), (acc, w) -> acc + length(w)) AS DOUBLE)"
        f" / CAST(greatest(size({ws}), 1) AS DOUBLE))"
    )
    mwl_ok = f"(CASE WHEN {mwl} >= 3.0D AND {mwl} <= 10.0D THEN 1.0D ELSE 0.5D END)"
    score = f"(({len_ok} + {punct_pen} + {stop_ok} + {mwl_ok}) / 4.0D)"
    return f"transform(array({words_expr(c)}), g -> {score})[0]"


def lang_marker_count(col: Column | str, lang: str) -> Column:
    """Number of words that are marker stopwords of ``lang``."""
    ws = words(col)
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(ws, lambda w: F.array_contains(markers, F.lower(w))))


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _bound_profile_counts_expr(
    arr_sql: str, profiles: dict[str, tuple[str, ...]], elem: str = "x"
) -> str:
    """Per-profile hit counts over an array expression, with the array
    LAMBDA-BOUND so it is evaluated ONCE for all profiles.

    The r08 lang-ID profiling result this encodes: higher-order-function
    lambdas do not participate in whole-stage-codegen subexpression
    elimination, so N separate ``size(filter(<arr>, ...))`` counts
    re-evaluate the (expensive) array construction N times — the
    four-language trigram family measured 4× the single-language cost
    (43.7 s → 12.9 s at sf1 after binding). ``transform(array(A),
    g -> array(c1(g), .., cN(g)))[0]`` binds A to ``g`` once; lambda
    variable references are cheap attribute reads.

    Returns an ``array<int>`` SQL expression in ``profiles`` key order."""
    counts = ",".join(
        "size(filter(g, {e} -> ({e} IN ({lst}))))".format(
            e=elem, lst=",".join(_sql_str(m) for m in profiles[lang])
        )
        for lang in profiles
    )
    return f"transform(array({arr_sql}), g -> array({counts}))[0]"


def _bound_argmax_lang_expr(counts_sql: str, langs: list[str]) -> str:
    """Argmax language over a bound counts array: ties break to the
    first language in order (sequential CASE), zero evidence → 'und'.
    The counts array is lambda-bound so it evaluates once."""
    whens = " ".join(
        f"WHEN c[{i}] = array_max(c) AND array_max(c) > 0 THEN '{lang}'"
        for i, lang in enumerate(langs)
    )
    return f"transform(array({counts_sql}), c -> CASE {whens} ELSE 'und' END)[0]"


def lang_id(col: Column | str) -> Column:
    """Marker-based language ID: argmax over per-language marker counts.
    Ties break to the first language in ``LANG_MARKERS`` order (en, de,
    fr, es) — the fixed evaluation order that makes the argmax
    deterministic; only zero evidence yields 'und'. The word array and
    the counts array are each lambda-bound (built once — see
    ``_bound_profile_counts_expr`` for why)."""
    name = _fast_name(col)
    if name is None:
        # Column path (rare): keep the straightforward formulation
        counts = {lang: lang_marker_count(col, lang) for lang in LANG_MARKERS}
        best = F.greatest(*counts.values())
        result = F.lit("und")
        for lang in reversed(list(LANG_MARKERS)):
            result = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(
                result
            )
        return result
    counts_sql = ",".join(
        "size(filter(g, w -> (lower(w) IN ({lst}))))".format(
            lst=",".join(_sql_str(m) for m in LANG_MARKERS[lang])
        )
        for lang in LANG_MARKERS
    )
    bound_counts = f"transform(array({words_expr(f'`{name}`')}), g -> array({counts_sql}))[0]"
    return F.expr(_bound_argmax_lang_expr(bound_counts, list(LANG_MARKERS)))


def fingerprint(col: Column | str) -> Column:
    """Rabin-Karp rolling-hash document fingerprint (exact-dup key that is
    cheaper to compare than full text)."""
    return rolling_fingerprint(col)


#: PII scrubbing patterns — deliberately restricted to syntax that means
#: the same thing in Java regex (Spark) and RE2 (DuckDB) so the oracle
#: replays the redaction character-for-character.
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_REGEX = r"\+[0-9][0-9 -]{6,}[0-9]"


def pii_email_count(col: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_c(col), F.lit(EMAIL_REGEX), F.lit(0)))


def pii_phone_count(col: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_c(col), F.lit(PHONE_REGEX), F.lit(0)))


def pii_redact(col: Column | str) -> Column:
    """Replace emails then phone numbers with typed placeholder tags.
    Order matters (emails first: a phone regex must never eat into an
    address) and is identical in the oracle."""
    c = F.regexp_replace(_c(col), EMAIL_REGEX, "<EMAIL>")
    return F.regexp_replace(c, PHONE_REGEX, "<PHONE>")


# ---------------------------------------------------------------------------
# Script / charset profiling — the cheap first gate of a multilingual
# corpus pipeline (route docs to per-script pipelines, drop mojibake).
# Character-class counting by regexp_replace-and-measure: the same
# class expression means the same thing in Java regex and RE2, so the
# DuckDB oracle replays every ratio bit-for-bit. Zero shuffle.
# ---------------------------------------------------------------------------


def _class_count(c: Column, cls: str) -> Column:
    """#chars matching a regex character class = len - len(stripped)."""
    return F.length(c) - F.length(F.regexp_replace(c, cls, ""))


def script_profile(col: Column | str) -> list[Column]:
    """Per-document charset mix: ascii_letter / digit / whitespace /
    other-ascii / non-ascii counts plus the dominant-class ratio. Emitted
    as aliased columns ready for ``select(*script_profile("text"))``."""
    c = _c(col)
    letters = _class_count(c, "[A-Za-z]")
    digits = _class_count(c, "[0-9]")
    spaces = _class_count(c, r"[ \t\n\r]")
    nonascii = _class_count(c, "[^\\x00-\\x7F]")
    total = F.length(c)
    return [
        total.alias("n_chars_total"),
        letters.alias("n_ascii_letters"),
        digits.alias("n_digits"),
        spaces.alias("n_whitespace"),
        nonascii.alias("n_non_ascii"),
        (letters.cast("double") / F.greatest(total, F.lit(1)).cast("double")).alias(
            "ascii_letter_ratio"
        ),
        (nonascii.cast("double") / F.greatest(total, F.lit(1)).cast("double")).alias(
            "non_ascii_ratio"
        ),
    ]


def is_mojibake_suspect(col: Column | str, threshold: float = 0.3) -> Column:
    """Heuristic mojibake/binary-spill gate: too many non-ASCII,
    non-letter characters for a text document."""
    c = _c(col)
    nonascii = F.length(c) - F.length(F.regexp_replace(c, "[^\\x00-\\x7F]", ""))
    return (
        nonascii.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")
    ) > threshold


#: Character-trigram profiles per language (space-padded word-boundary
#: grams — the cavnar-trenkle-style n-gram signal; tiny fixed profiles
#: kept SQL-expressible so the oracle replays the classification).
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", "ing", " an", "and", "nd ", " is", "is ", " it"),
    "de": ("sch", "ich", "cht", "der", "und", "ein", "übe", "ber", "nde", " un"),
    "fr": (" le", "le ", "eux", "aut", "par", "ess", " ce", "n'e", "ui ", "trè"),
    "es": ("el ", " el", "rro", "alt", "ada", "esp", "ido", "oso", "ara", " pa"),
}


def trigram_hits(col: Column | str, lang: str) -> Column:
    """Occurrences of the language's profile trigrams in the space-padded
    lowercased text — counts every occurrence (not distinct), the
    Cavnar-Trenkle frequency signal."""
    padded = F.concat(F.lit(" "), F.lower(_c(col)), F.lit(" "))
    grams = char_ngrams(padded, 3)
    profile = F.array(*[F.lit(g) for g in LANG_TRIGRAMS[lang]])
    return F.size(F.filter(grams, lambda g: F.array_contains(profile, g)))


def trigram_counts(col: Column | str) -> Column:
    """Per-language trigram-profile hit counts as one ``array<int>`` in
    ``LANG_TRIGRAMS`` order — the padded gram array is built ONCE
    (lambda-bound) for all languages. The r08 profiling result: the
    per-language ``trigram_hits`` form re-built the gram array per
    language because HOF lambdas don't participate in codegen
    subexpression elimination — 4 languages cost 4× the gram
    construction (43.7 s → 12.9 s for the margin gate at sf1)."""
    name = _fast_name(col)
    if name is not None:
        padded = f"concat(' ', lower(`{name}`), ' ')"
        return F.expr(
            _bound_profile_counts_expr(char_ngrams_expr(padded, 3), LANG_TRIGRAMS)
        )
    padded = F.concat(F.lit(" "), F.lower(_c(col)), F.lit(" "))
    return F.transform(
        F.array(char_ngrams(padded, 3)),
        lambda g: F.array(
            *[
                F.size(
                    F.filter(
                        g,
                        lambda x: F.array_contains(
                            F.array(*[F.lit(t) for t in LANG_TRIGRAMS[lang]]), x
                        ),
                    )
                )
                for lang in LANG_TRIGRAMS
            ]
        ),
    )[0]


def lang_id_ngram(col: Column | str) -> Column:
    """Character-n-gram language ID: argmax of per-language profile-hit
    counts; ties break to the first language in ``LANG_TRIGRAMS`` order
    (en, de, fr, es — fixed, so engines agree); only zero evidence →
    'und'. The word-free twin of ``lang_id`` — robust to unsegmented
    text (no whitespace needed), which is exactly where the stopword
    heuristic fails. Gram and counts arrays are lambda-bound (built
    once — see ``trigram_counts``)."""
    name = _fast_name(col)
    if name is None:
        counts = {lang: trigram_hits(col, lang) for lang in LANG_TRIGRAMS}
        best = F.greatest(*counts.values())
        result = F.lit("und")
        for lang in reversed(list(LANG_TRIGRAMS)):
            result = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(
                result
            )
        return result
    padded = f"concat(' ', lower(`{name}`), ' ')"
    counts_sql = _bound_profile_counts_expr(char_ngrams_expr(padded, 3), LANG_TRIGRAMS)
    return F.expr(_bound_argmax_lang_expr(counts_sql, list(LANG_TRIGRAMS)))


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (nats) of the lower-cased character distribution,
    plus char counts, as a struct ``(n_chars, n_distinct, entropy)`` —
    the low-entropy filter that catches keyboard-mash, base64 blobs, and
    single-char padding documents (the Gopher-family signal the
    word-level repetition metrics miss).

    Zero shuffle: the character list sorts row-locally and ONE
    ``aggregate`` fold accumulates run lengths (= char frequencies) and
    the quantized Σ c·ln(c) term; entropy = ln(n) − Σ c·ln(c)/n with
    both logs floored to integer micro-nats first, so any engine replays
    the value bit-for-bit (DuckDB replays via a (doc, char) GROUP BY —
    same integers, same quantized logs).
    """
    lt = F.lower(_c(col))
    n = F.length(lt)
    # split, not per-index substr: an expression captured inside a HOF
    # lambda re-evaluates PER ELEMENT (lower(text) would run n times,
    # and substr pays an O(i) UTF-8 seek — quadratic on long docs);
    # split's argument evaluates once per row
    chars = F.when(n > 0, F.split(lt, "")).otherwise(
        F.array().cast("array<string>")
    )

    def qln(x: Column) -> Column:
        return F.floor(F.log(x.cast("double")) * F.lit(1e6)).cast("long")

    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("sumq"),
        F.lit(0).cast("long").alias("kinds"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = acc["run"] > 0
        cont = same & (x == acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(cont, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(cont, acc["sumq"])
            .otherwise(acc["sumq"] + F.when(same, acc["run"] * qln(acc["run"])).otherwise(F.lit(0)))
            .alias("sumq"),
            F.when(cont, acc["kinds"]).otherwise(acc["kinds"] + 1).alias("kinds"),
        )

    def finish(acc: Column) -> Column:
        sumq = acc["sumq"] + F.when(
            acc["run"] > 0, acc["run"] * qln(acc["run"])
        ).otherwise(F.lit(0))
        return F.struct(sumq.alias("sumq"), acc["kinds"].alias("kinds"))

    folded = F.aggregate(F.array_sort(chars), init, step, finish)
    entropy = F.when(
        n > 0,
        (qln(n).cast("double") / F.lit(1e6))
        - (folded["sumq"].cast("double") / F.lit(1e6) / n.cast("double")),
    ).otherwise(F.lit(0.0))
    return F.struct(
        n.cast("long").alias("n_chars"),
        folded["kinds"].cast("long").alias("n_distinct"),
        entropy.alias("entropy"),
    )


def normalize_text(col: Column | str) -> Column:
    """Canonical text normalization (the cleanup pass before hashing /
    dedup so near-identical bytes dedup as identical): strip ASCII
    control characters, normalize curly quotes and unicode dashes to
    ASCII, collapse whitespace runs to single spaces, and trim. The
    regex/replacement set is restricted to syntax Java regex and RE2
    evaluate identically, so the DuckDB oracle replays it
    character-for-character. Zero shuffle, whole-stage codegen.
    """
    c = _c(col)
    c = F.regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")
    c = F.regexp_replace(c, "[‘’‚]", "'")
    c = F.regexp_replace(c, "[“”„]", '"')
    c = F.regexp_replace(c, "[–—―]", "-")
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)
