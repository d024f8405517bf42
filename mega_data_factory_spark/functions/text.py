"""Text scalar functions (Column-expression builders, JVM-side only).

Re-expresses the reference's text handling (normalization at
operators/dedup/text_exact_dedup.py:66-72, length resolution at
operators/filters/text_length_filter.py:43-57) as Catalyst expressions, and
adds the token/shingle machinery the near-dedup family needs.

All semantics are chosen to be expressible identically in ANSI SQL (DuckDB
oracle): literal `replace`/`regexp` with ASCII word boundaries, no
engine-specific collation or hashing.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- SQL-text twins -------------------------------------------------------
# py4j costs ~2-4 ms per Column call on the bench hosts (round-12
# measurement), so builders that compose dozens of Columns spend 100-350 ms
# of pure driver latency per plan build. The *_sql helpers below render the
# IDENTICAL Catalyst trees as SQL text so a whole builder parses in ONE
# F.expr round trip. Every fast path is pinned to its composed twin by a
# structural test (tests/test_refiner_expr_parity.py: analyzed-plan strings
# equal modulo expression ids) — change one side and the test fails.


def sql_string_literal(s: str) -> str:
    """Render a python string as a Spark SQL string literal (default,
    non-ANSI escape rules: backslash escapes are interpreted, so double
    them; control characters spelled as escapes to keep the SQL text
    printable)."""
    out = (
        s.replace("\\", "\\\\")
        .replace("'", "\\'")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
        .replace("\x00", "\\0")
    )
    return f"'{out}'"


def sql_number_literal(v: int | float) -> str | None:
    """SQL literal whose PARSED TYPE matches ``F.lit(v)``: plain digits for
    32-bit ints (wider ints and bools have no spelling this helper
    guarantees faithful — callers fall back to the composed path on None),
    ``repr(v)`` + the ``D`` suffix for finite floats (bare ``0.3`` parses
    as DECIMAL in Spark SQL; ``repr`` round-trips the exact double)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return str(v) if -(2**31) <= v <= 2**31 - 1 else None
    if isinstance(v, float) and math.isfinite(v):
        return f"{v!r}D"
    return None


def sql_plain_column(col: Column | str) -> str | None:
    """Backtick-quoted reference for a plain string column name, or None
    when the input needs the composed-Column path (a Column object, or a
    name carrying a backtick)."""
    if isinstance(col, str) and "`" not in col:
        return f"`{col}`"
    return None


def normalize_text_sql(col_sql: str, *, lowercase: bool = True, collapse_whitespace: bool = True) -> str:
    """SQL twin of :func:`normalize_text` (same tree, one parse)."""
    c = col_sql
    if collapse_whitespace:
        c = f"trim(regexp_replace({c}, '\\\\s+', ' '))"
    if lowercase:
        c = f"lower({c})"
    return c


def token_count_sql(col_sql: str) -> str:
    """SQL twin of :func:`token_count` (same tree, one parse)."""
    norm = normalize_text_sql(col_sql, lowercase=False)
    n = f"length({norm}) - length(replace({norm}, ' ', '')) + 1"
    return f"cast(CASE WHEN (({norm} IS NULL) OR (length({norm}) = 0)) THEN 0 ELSE {n} END as bigint)"


def text_length_sql(col_sql: str, length_col_sql: str | None = None) -> str:
    """SQL twin of :func:`text_length` (same tree, one parse)."""
    ln = f"length({col_sql})"
    if length_col_sql is not None:
        ln = f"coalesce(cast({length_col_sql} as bigint), cast({ln} as bigint))"
    return f"coalesce(cast({ln} as bigint), cast(0 as bigint))"


# ASCII word characters: the class RE2's ``\b`` (DuckDB) is defined over.
# Java's ``\b`` on JDK 17 also counts Unicode letters and combining marks
# as word characters ('éla' has no boundary before 'la' in Spark, one in
# DuckDB), so the boundary is spelled as explicit lookarounds instead.
ASCII_WORD_CLASS = "[0-9A-Za-z_]"


def is_ascii_word(s: str) -> bool:
    """True when ``s`` is a non-empty run of ASCII word characters."""
    return re.fullmatch(ASCII_WORD_CLASS + "+", s) is not None


def word_pattern(word: str) -> str:
    r"""Java regex for whole-word occurrences of ``word`` (lowercased,
    escaped) with RE2's ASCII ``\b`` semantics at each edge. A word-character
    edge needs a non-word (or no) neighbour, ``(?<![0-9A-Za-z_])``; a
    non-word edge ('c++') needs a word-character neighbour, which is what
    ``\b`` means there. re.escape's backslash-escapes are Java- and
    RE2-compatible.

    The literal comes first and the head check is a lookbehind over the
    literal itself, ``lit(?<![0-9A-Za-z_]lit)``: Java's matcher then tries
    a cheap first-character compare at each position (a Boyer-Moore skip
    for literals of 4+ characters) instead of running a lookbehind at every
    position: a 4-word WordScoreFilter predicate over 4,000 docs took
    ~560 ms with the lookbehind leading and ~350 ms literal-first (4 vCPUs).
    The matches are the same: every lookaround is zero-width."""
    lw = word.lower()
    w = re.escape(lw)
    head = "(?<!" if is_ascii_word(lw[:1]) else "(?<="
    tail = f"(?!{ASCII_WORD_CLASS})" if is_ascii_word(lw[-1:]) else f"(?={ASCII_WORD_CLASS})"
    return f"{w}{head}{ASCII_WORD_CLASS}{w}){tail}"


def word_occurrences_sql(col_sql: str, word: str) -> str:
    r"""SQL twin of :func:`word_occurrences`'s fast path, for embedding in
    larger expressions: ``col_sql`` is an already-rendered SQL fragment."""
    pat = word_pattern(word)
    return f"cast(coalesce(regexp_count(lower({col_sql}), {sql_string_literal(pat)}), 0) as bigint)"


def normalize_text(col: Column | str, *, lowercase: bool = True, collapse_whitespace: bool = True) -> Column:
    """Canonical text normalization: trim, collapse runs of whitespace to one
    space, lowercase. Mirrors reference text_exact_dedup.py:66-72 (both steps
    optional there too). NULL stays NULL.
    """
    c = _c(col)
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return c


def text_length(text_col: Column | str = "text", length_col: Column | str | None = None) -> Column:
    """Effective text length per reference text_length_filter.py:43-57:
    trust a precomputed numeric length column when present, else
    ``length(text)``, else 0 for missing text.
    """
    ln = F.length(_c(text_col))
    if length_col is not None:
        ln = F.coalesce(_c(length_col).cast("long"), ln.cast("long"))
    return F.coalesce(ln.cast("long"), F.lit(0).cast("long"))


def token_count(col: Column | str) -> Column:
    """Whitespace token count: 0 for NULL/empty/blank, else number of
    maximal non-whitespace runs. Computed arithmetically on the normalized
    string so the SQL oracle can use the identical formula:
    ``len(norm) - len(replace(norm, ' ', '')) + 1``.
    """
    norm = normalize_text(col, lowercase=False)
    n = F.length(norm) - F.length(F.replace(norm, F.lit(" "), F.lit(""))) + F.lit(1)
    return F.when(norm.isNull() | (F.length(norm) == 0), F.lit(0)).otherwise(n).cast("long")


# GPT-2-style pre-tokenizer classes (contractions | letter runs | digit
# runs | punctuation runs), restricted to constructs both Java regex and
# RE2 (DuckDB) interpret identically — no lookarounds, no backrefs.
SUBWORD_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def subword_token_count(col: Column | str) -> Column:
    """BPE-ish token count: number of matches of the GPT-2-style
    pre-tokenizer regex over the normalized text — the cheap stand-in for a
    real BPE vocab when budgeting LLM training tokens. 0 for NULL/empty.
    Oracle mirror: ``len(regexp_extract_all(norm, pattern))`` (RE2 and Java
    agree on this pattern by construction)."""
    norm = normalize_text(col, lowercase=False)
    n = F.regexp_count(norm, F.lit(SUBWORD_PATTERN))
    return F.when(norm.isNull(), F.lit(0)).otherwise(n).cast("long")


def word_occurrences(col: Column | str, word: str) -> Column:
    r"""Count of whole-word occurrences of ``word`` (case-insensitive): 0 for
    NULL text. Boundaries follow RE2's ASCII ``\b`` (see
    :func:`word_pattern`), so Spark and the DuckDB mirror's
    ``\bword\b`` count the same text identically, non-ASCII neighbours
    included (pinned in tests/test_curation.py).
    """
    # lower() the text rather than using (?i) so the oracle SQL stays
    # trivial; escape the word — config-supplied words with regex
    # metacharacters ('a.b', 'c++') would otherwise mis-count (dot matches
    # anything) or kill the job at pattern-compile time.
    ref = sql_plain_column(col)
    if ref is not None:
        # Single-expr fast path (round 12): the stopword/marker refiners
        # call this in loops of 8-16 words, and composing the chain as
        # five Column ops costs five py4j round trips each (~2-4 ms/call
        # on this host) — ~0.3-0.7 s of pure driver time per pipeline
        # plan build. One F.expr builds the IDENTICAL expression tree
        # (cast(coalesce(regexp_count(lower(col), pat), 0) as bigint));
        # the pattern is escaped for Spark's string-literal rules
        # (sql_string_literal) and the column name backtick-quoted.
        # Columns or backtick-carrying names fall back to the composed
        # form. Equivalence is pinned by
        # tests/test_curation.py::test_word_occurrences_expr_parity.
        return F.expr(word_occurrences_sql(ref, word))
    return F.coalesce(F.regexp_count(F.lower(_c(col)), F.lit(word_pattern(word))), F.lit(0)).cast("long")


def word_array(col: Column | str) -> Column:
    """Non-empty normalized words — the shared unigram feature definition
    (DSIR scorer, quality classifier). NULL text yields NULL."""
    return F.filter(F.split(normalize_text(col), " "), lambda w: w != "")


def word_ngram_array(col: Column | str, *, bigrams: bool = True, empty_on_null: bool = False) -> Column:
    """Unigrams (+ space-joined bigrams) as ONE array column — pure Column
    HOFs, codegen'd, no Python. The single definition shared by the
    hashed-feature operators (fastText-style ``QualityClassifier``, DSIR
    importance scorer) so their feature spaces cannot drift apart.

    Bigrams via ``zip_with`` against the shifted word array; k<2 words ->
    no bigrams (no whole-text fallback — clean SQL mirror, unlike the
    Jaccard shingles which need every doc non-empty). ``empty_on_null``
    maps NULL text to an EMPTY array instead of NULL (``HashingTF`` throws
    on a null input array; ``explode`` treats the two identically)."""
    w = word_array(col)
    if bigrams:
        k = F.size(w)
        bg = F.slice(
            F.zip_with(w, F.slice(w, 2, k), lambda a, b: F.concat_ws(" ", a, b)),
            1,
            F.greatest(k - F.lit(1), F.lit(0)),
        )
        w = F.concat(w, bg)
    if empty_on_null:
        w = F.coalesce(w, F.array().cast("array<string>"))
    return w


def word_shingles_sql(col_sql: str, n: int = 3) -> str:
    """SQL twin of :func:`word_shingles` (same tree, one parse).

    Binder spelling: pyspark's ``_create_lambda`` names every lambda arg
    ``x``/``y``/``z`` plus a fresh numeric suffix, and the parity
    normalizer (tests/test_refiner_expr_parity.py) folds ``x_<k>`` and
    bare ``x`` together. The two nested unary binders are spelled
    ``x_1``/``x_2`` here — DISTINCT names, because the composed tree
    references the OUTER normalized-text variable (``array(x_1)``, the
    fewer-than-n-tokens fallback) from inside the inner lambda, which a
    same-name shadowing spelling could not express."""
    grams = "x_2"
    for i in range(2, n + 1):
        grams = f"zip_with({grams}, slice(x_2, {i}, size(x_2)), (x, y) -> concat_ws(' ', x, y))"
    gram = (
        f"CASE WHEN (size(x_2) >= {n}) THEN slice({grams}, 1, size(x_2) - {n - 1}) "
        f"ELSE array(x_1) END"
    )
    build = (
        f"CASE WHEN (x_1 IS NULL) THEN cast(NULL as array<string>) "
        f"ELSE transform(array(split(x_1, ' ')), x_2 -> {gram})[0] END"
    )
    return f"transform(array({normalize_text_sql(col_sql)}), x_1 -> {build})[0]"


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles over the normalized text, preserving
    document order (duplicates included). Documents with fewer than ``n``
    tokens yield a single shingle of the whole normalized text, so every
    non-empty document has at least one shingle (keeps Jaccard well-defined).

    Built as ``zip_with`` over shifted copies of the word array rather than
    ``transform(sequence, i -> slice(words, i, n))``: a captured expression
    referenced inside a PER-ELEMENT higher-order-function lambda is
    RE-EVALUATED per element (the split+regex chain ran ~k times per row —
    a measured 4x+ slowdown on shingle-heavy plans); zip_with lambdas touch
    only their element arguments. zip_with pads the shorter side with NULLs
    and ``concat_ws`` skips NULLs, so the trailing partial grams are cut by
    the final slice to k-(n-1) entries.

    The normalized text and the word array are each bound ONCE as
    single-element-``transform`` lambda variables (the round-10
    expression-binding lesson, operators/refiners.py): the naive tree
    referenced ``words`` in every shifted ``slice`` — ~2n copies of
    split(normalize(text)), which codegen CSE absorbs but a pushed-down
    filter or interpreted CodegenFallback Project re-evaluates per copy
    per row (the c4 recipe's span-dedup filter carried 132 copies; at
    span_tokens=20 that is ~40 full text re-scans per row per site).
    Inner references to the bound variables (size/slice of a lambda var)
    are O(1) attribute reads, and the zip_with chain is sequential — each
    level evaluates once.

    Plain string column names take the :func:`word_shingles_sql` single-expr
    fast path (round 12): the composed form below costs ~45 py4j round trips
    (~100-250 ms of pure driver latency per plan build on the bench hosts)
    and is rebuilt on every pass of every consumer (MinHash/ngram-Jaccard/
    shared-span/decontamination plans). Identical analyzed tree, pinned by
    tests/test_refiner_expr_parity.py::test_word_shingles_twin.
    """
    ref = sql_plain_column(col)
    if ref is not None:
        return F.expr(word_shingles_sql(ref, n))

    def build(nv: Column) -> Column:
        def gram(words: Column) -> Column:
            k = F.size(words)
            grams = words
            for i in range(2, n + 1):
                grams = F.zip_with(grams, F.slice(words, i, k), lambda a, b: F.concat_ws(" ", a, b))
            return F.when(k >= n, F.slice(grams, 1, k - F.lit(n - 1))).otherwise(F.array(nv))

        return F.when(nv.isNull(), F.lit(None).cast("array<string>")).otherwise(
            F.transform(F.array(F.split(nv, " ")), gram)[0]
        )

    return F.transform(F.array(normalize_text(col)), build)[0]
