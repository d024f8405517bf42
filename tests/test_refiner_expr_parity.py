"""Structural parity for the round-12 SQL-text fast paths.

py4j costs ~2-4 ms per Column call on the bench hosts, so the struct-builder
refiners (LanguageId / QualityScore / RepetitionStats / GopherQuality /
IntraDocDedup / TextStats) author their Catalyst trees as ONE SQL string per
output column instead of dozens of composed Column calls. The fast path must
be a pure re-spelling: this module pins, for every such refiner,

  * analyzed-plan equality with the composed-Column twin, modulo expression
    ids (`#123`) and the fresh-name suffix pyspark appends to lambda
    variables (`lambda x_1` vs SQL's `lambda x` — the binder NAME is
    display-only; references resolve by id). Any drift in literals, casts,
    operator shape, or lambda structure fails the diff.
  * value equality on an adversarial fixture (quotes, backslashes, regex
    metacharacters, repeated lines, unicode, empty, NULL).

The composed path is forced by stubbing the plain-column detector
(`refiners.sql_plain_column`) to return None — exactly the dispatch the
fast path takes for Column inputs or backticked names.
"""

from __future__ import annotations

import re

import pytest

import mega_data_factory_spark.operators.refiners as R

ROWS = [
    (0, "the cat and the hat el la de que der die und das le les et des"),
    (1, "repeat line\nrepeat line\nrepeat line\nunique tail line here"),
    (2, "it's a 'quoted' back\\slash c++ a.b [set] (paren) #tag ..."),
    (3, "• bullet one\n- bullet two\nends with ellipsis...\nplain line."),
    (4, "Tür tür TÜR déjà vu … naïve"),
    (5, "word " * 50 + "word"),
    (6, ""),
    (7, None),
]


REFINERS = [
    pytest.param(lambda: R.TextStatsRefiner(), id="TextStatsRefiner"),
    pytest.param(lambda: R.TextStatsRefiner(length_col="n_chars"), id="TextStatsRefiner-lencol"),
    pytest.param(lambda: R.LanguageIdRefiner(), id="LanguageIdRefiner"),
    pytest.param(lambda: R.QualityScoreRefiner(), id="QualityScoreRefiner"),
    pytest.param(lambda: R.GopherQualityRefiner(), id="GopherQualityRefiner"),
    pytest.param(lambda: R.RepetitionStatsRefiner(), id="RepetitionStatsRefiner"),
    pytest.param(lambda: R.IntraDocDedupRefiner(), id="IntraDocDedupRefiner"),
    pytest.param(
        lambda: R.IntraDocDedupRefiner(sep=". ", min_unit_chars=4, out_col="td"),
        id="IntraDocDedupRefiner-sep",
    ),
]


def _fixture_df(spark):
    from pyspark.sql import functions as F

    return spark.createDataFrame(ROWS, "doc_id long, text string").withColumn(
        "n_chars", F.when(F.col("doc_id") % 2 == 0, F.length("text"))
    )


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _norm(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    # pyspark's _unresolved_named_lambda_variable appends a fresh counter
    # to its fixed x/y/z binder names; the SQL text spells them bare. The
    # name is cosmetic (references bind by expression id, already
    # normalized above) — but only the SUFFIX is normalized, so a twin
    # that swapped binders (x for y) would still fail the diff.
    return re.sub(r"lambda ([xyz])_\d+", r"lambda \1", plan)


def _both_paths(make_refiner, df):
    fast = make_refiner().apply(df)
    orig = R.sql_plain_column
    R.sql_plain_column = lambda c: None
    try:
        slow = make_refiner().apply(df)
    finally:
        R.sql_plain_column = orig
    return fast, slow


@pytest.mark.parametrize("make_refiner", REFINERS)
def test_fast_path_tree_identical(spark, make_refiner):
    df = _fixture_df(spark)
    fast, slow = _both_paths(make_refiner, df)
    a, b = _norm(_analyzed(fast)), _norm(_analyzed(slow))
    assert a == b, "SQL-text twin drifted from the composed tree:\n" + "\n".join(
        f"fast: {x}\nslow: {y}" for x, y in zip(a.splitlines(), b.splitlines()) if x != y
    )


@pytest.mark.parametrize("make_refiner", REFINERS)
def test_fast_path_values_identical(spark, make_refiner):
    df = _fixture_df(spark)
    fast, slow = _both_paths(make_refiner, df)
    rows_f = [tuple(str(v) for v in r) for r in fast.orderBy("doc_id").collect()]
    rows_s = [tuple(str(v) for v in r) for r in slow.orderBy("doc_id").collect()]
    assert rows_f == rows_s


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_word_shingles_twin(spark, n):
    """word_shingles' SQL-text fast path (round 12): identical analyzed
    tree and values vs the composed nested-lambda form, across shingle
    widths — this expression feeds every oracle-anchored dedup key
    (MinHash bands, ngram Jaccard, decontamination), so the bar is plan
    equality, not just value equality."""
    import mega_data_factory_spark.functions.text as T

    df = _fixture_df(spark)
    fast = df.select(T.word_shingles("text", n).alias("s"))
    orig = T.sql_plain_column
    T.sql_plain_column = lambda c: None
    try:
        slow = df.select(T.word_shingles("text", n).alias("s"))
    finally:
        T.sql_plain_column = orig
    a, b = _norm(_analyzed(fast)), _norm(_analyzed(slow))
    assert a == b, "\n".join(
        f"fast: {x}\nslow: {y}" for x, y in zip(a.splitlines(), b.splitlines()) if x != y
    )
    rows_f = [str(r) for r in fast.collect()]
    rows_s = [str(r) for r in slow.collect()]
    assert rows_f == rows_s
    # and the fast path must actually engage for a plain name
    assert "pythonUDF" not in _analyzed(fast)  # sanity: still pure SQL exprs


@pytest.mark.parametrize("seed", [None, 0, 7, "wds", "a'b\\c"])
def test_hash64_twin(spark, seed):
    """hash64_from_md5's SQL-text fast path: identical analyzed tree and
    values vs the composed form, including seeds that need SQL string
    escaping."""
    import mega_data_factory_spark.functions.hashing as H
    from pyspark.sql import functions as F

    df = _fixture_df(spark)
    fast = df.select(H.hash64_from_md5("text", seed=seed).alias("h"))
    slow = df.select(H.hash64_from_md5(F.col("text"), seed=seed).alias("h"))
    a, b = _norm(_analyzed(fast)), _norm(_analyzed(slow))
    assert a == b, "\n".join(
        f"fast: {x}\nslow: {y}" for x, y in zip(a.splitlines(), b.splitlines()) if x != y
    )
    assert [str(r) for r in fast.collect()] == [str(r) for r in slow.collect()]


FILTERS = [
    pytest.param(
        lambda: __import__("mega_data_factory_spark.operators.filters", fromlist=["x"]).NumericRangeFilter(
            column="score", lo=1, hi=0.6, name="RangeCut"
        ),
        id="NumericRangeFilter",
    ),
    pytest.param(
        lambda: __import__("mega_data_factory_spark.operators.filters", fromlist=["x"]).NumericRangeFilter(
            column="score", lo=0.3, name="LoOnly"
        ),
        id="NumericRangeFilter-lo",
    ),
    pytest.param(
        lambda: __import__("mega_data_factory_spark.operators.filters", fromlist=["x"]).TextLengthFilter(
            min_length=5, max_length=1000
        ),
        id="TextLengthFilter",
    ),
    pytest.param(
        lambda: __import__("mega_data_factory_spark.operators.filters", fromlist=["x"]).TextLengthFilter(
            min_length=5, max_length=1000, length_col="n_chars"
        ),
        id="TextLengthFilter-lencol",
    ),
    pytest.param(
        lambda: __import__("mega_data_factory_spark.operators.filters", fromlist=["x"]).GopherQualityFilter(),
        id="GopherQualityFilter",
    ),
    pytest.param(
        lambda: __import__("mega_data_factory_spark.operators.filters", fromlist=["x"]).C4PageFilter(),
        id="C4PageFilter",
    ),
]


def _filter_fixture(spark):
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL
    from mega_data_factory_spark.operators.refiners import (
        C4HeuristicRefiner,
        GopherQualityRefiner,
    )

    df = (
        _fixture_df(spark)
        .withColumn("score", (F.col("doc_id") * 7 % 13).cast("double") / 10)
        .withColumn("_rejection_details", F.lit(None).cast(REJECTION_STRUCT_DDL))
    )
    df = GopherQualityRefiner().apply(df)  # columns + derived (the eight signals)
    df = C4HeuristicRefiner().apply(df)  # columns + derived (c4_sentences)
    return df


@pytest.mark.parametrize("make_filter", FILTERS)
def test_filter_tag_twin(spark, make_filter):
    """The pipeline's filter tag (alive gate + keep coalesce + rejection
    struct) authored as one SQL expr must be tree- and value-identical to
    the composed form — for every filter class exposing predicate_sql."""
    from mega_data_factory_spark.plans.pipeline import Pipeline

    df = _filter_fixture(spark)

    def tag(force_composed: bool):
        op = make_filter()
        assert op.predicate_sql(df) is not None, "twin must dispatch on this fixture"
        if force_composed:
            op.predicate_sql = lambda df: None  # instance shadow: composed path
        pipe = Pipeline.__new__(Pipeline)
        pipe._expr_cache = {}
        pipe._mid_cached = []
        return pipe._apply(df, op)

    fast, slow = tag(False), tag(True)
    a, b = _norm(_analyzed(fast)), _norm(_analyzed(slow))
    assert a == b, "\n".join(
        f"fast: {x}\nslow: {y}" for x, y in zip(a.splitlines(), b.splitlines()) if x != y
    )
    rows_f = [str(r) for r in fast.orderBy("doc_id").collect()]
    rows_s = [str(r) for r in slow.orderBy("doc_id").collect()]
    assert rows_f == rows_s


@pytest.mark.parametrize("make_filter", FILTERS)
def test_filter_keep_twin(spark, make_filter):
    """Filter.keep()'s fast path (used by apply()/rejected() outside the
    pipeline) must match the composed coalesce(predicate, false)."""
    df = _filter_fixture(spark)
    op_fast, op_slow = make_filter(), make_filter()
    op_slow.predicate_sql = lambda df: None
    fast = df.select(op_fast.keep(df).alias("k"))
    slow = df.select(op_slow.keep(df).alias("k"))
    a, b = _norm(_analyzed(fast)), _norm(_analyzed(slow))
    assert a == b, "\n".join(
        f"fast: {x}\nslow: {y}" for x, y in zip(a.splitlines(), b.splitlines()) if x != y
    )
    assert [str(r) for r in fast.collect()] == [str(r) for r in slow.collect()]


def test_filter_twin_refuses_unspellable(spark):
    """Parameterizations with no faithful SQL spelling must fall back."""
    from mega_data_factory_spark.operators.filters import NumericRangeFilter

    df = _filter_fixture(spark)
    assert NumericRangeFilter(column="sc`ore", lo=1).predicate_sql(df) is None
    assert NumericRangeFilter(column="score", lo=2**40).predicate_sql(df) is None
    assert NumericRangeFilter(column="score", lo=float("inf")).predicate_sql(df) is None


@pytest.mark.parametrize("make_refiner", REFINERS)
def test_pipeline_refiner_projection_twin(spark, make_refiner):
    """Pipeline._apply's one-selectExpr refiner projection (alive gate
    folded into each CASE) must be tree- and value-identical to the
    composed withColumns-of-F.when path — for every refiner exposing
    columns_sql_text, including with dead rows present."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL
    from mega_data_factory_spark.plans.pipeline import Pipeline

    df = _fixture_df(spark).withColumn(
        "_rejection_details",
        F.when(
            F.col("doc_id") == 1,
            F.expr(
                "struct(cast('filtered' as string) AS reason, cast('Pre' as string) AS operator, "
                "cast(null as string) AS dedup_key, cast(null as string) AS representative_id)"
            ),
        ).otherwise(F.lit(None).cast(REJECTION_STRUCT_DDL)),
    )

    def applied(force_composed: bool):
        op = make_refiner()
        assert op.columns_sql_text(df) is not None, "twin must dispatch on this fixture"
        if force_composed:
            op.columns_sql_text = lambda df: None  # instance shadow
        pipe = Pipeline.__new__(Pipeline)
        pipe._expr_cache = {}
        pipe._mid_cached = []
        return pipe._apply(df, op)

    fast, slow = applied(False), applied(True)
    a, b = _norm(_analyzed(fast)), _norm(_analyzed(slow))
    assert a == b, "\n".join(
        f"fast: {x}\nslow: {y}" for x, y in zip(a.splitlines(), b.splitlines()) if x != y
    )
    rows_f = [str(r) for r in fast.orderBy("doc_id").collect()]
    rows_s = [str(r) for r in slow.orderBy("doc_id").collect()]
    assert rows_f == rows_s


def test_pipeline_refiner_projection_collision_falls_back(spark):
    """selectExpr('*', x AS c) cannot REPLACE an existing column the way
    withColumns does — a refiner whose output name already exists in the
    frame must take the composed path (which replaces in place)."""
    from pyspark.sql import functions as F

    import mega_data_factory_spark.operators.refiners as R
    from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL
    from mega_data_factory_spark.plans.pipeline import Pipeline

    df = (
        _fixture_df(spark)
        .withColumn("_rejection_details", F.lit(None).cast(REJECTION_STRUCT_DDL))
        .withColumn("token_count", F.lit(-1))  # collides with TextStats output
    )
    pipe = Pipeline.__new__(Pipeline)
    pipe._expr_cache = {}
    pipe._mid_cached = []
    out = pipe._apply(df, R.TextStatsRefiner())
    # exactly ONE token_count column, replaced in place
    assert out.columns.count("token_count") == 1
    vals = {r["doc_id"]: r["token_count"] for r in out.collect()}
    assert vals[0] != -1  # replaced, not kept


def _make_dedups():
    from mega_data_factory_spark.operators.dedup import KeyDeduplicator, TextExactDeduplicator

    return [
        pytest.param(lambda: TextExactDeduplicator(), id="TextExact"),
        pytest.param(lambda: TextExactDeduplicator(url_col="url", lowercase=False), id="TextExact-url"),
        pytest.param(
            lambda: TextExactDeduplicator(collapse_whitespace=False, name="Exact2"),
            id="TextExact-nocollapse",
        ),
        pytest.param(
            lambda: KeyDeduplicator(["url"], order_col="doc_id"), id="KeyDedup-single"
        ),
        pytest.param(
            lambda: KeyDeduplicator(["url", "n_chars"], order_col="doc_id"), id="KeyDedup-multi"
        ),
        pytest.param(
            lambda: KeyDeduplicator(["url"], order_col="doc_id", null_keys="distinct"),
            id="KeyDedup-distinct",
        ),
        pytest.param(
            lambda: KeyDeduplicator(["url", "n_chars"], order_col="doc_id", null_keys="distinct"),
            id="KeyDedup-multi-distinct",
        ),
    ]


def _dedup_fixture(spark):
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL

    return (
        _fixture_df(spark)
        .withColumn(
            "url",
            F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("http://ex.com/"), (F.col("doc_id") % 2).cast("string"))),
        )
        .withColumn(
            "_rejection_details",
            F.when(
                F.col("doc_id") == 5,
                F.expr(
                    "struct(cast('filtered' as string) AS reason, cast('Pre' as string) AS operator, "
                    "cast(null as string) AS dedup_key, cast(null as string) AS representative_id)"
                ),
            ).otherwise(F.lit(None).cast(REJECTION_STRUCT_DDL)),
        )
    )


@pytest.mark.parametrize("make_dedup", _make_dedups())
def test_key_dedup_tag_twin(spark, make_dedup):
    """The pipeline's window dedup tag authored as one SQL expr must be
    tree- and value-identical to the composed form — across key shapes,
    url composites, both null_keys modes, and with dead rows present."""
    from mega_data_factory_spark.plans.pipeline import Pipeline

    df = _dedup_fixture(spark)

    def tag(force_composed: bool):
        op = make_dedup()
        assert op.effective_key_sql(df) is not None, "twin must dispatch on this fixture"
        if force_composed:
            op.effective_key_sql = lambda df: None  # instance shadow
        pipe = Pipeline.__new__(Pipeline)
        pipe._expr_cache = {}
        pipe._mid_cached = []
        return pipe._apply(df, op)

    fast, slow = tag(False), tag(True)
    a, b = _norm(_analyzed(fast)), _norm(_analyzed(slow))
    assert a == b, "\n".join(
        f"fast: {x}\nslow: {y}" for x, y in zip(a.splitlines(), b.splitlines()) if x != y
    )
    rows_f = [str(r) for r in fast.orderBy("doc_id").collect()]
    rows_s = [str(r) for r in slow.orderBy("doc_id").collect()]
    assert rows_f == rows_s


def test_key_dedup_twin_refuses_unspellable(spark):
    from mega_data_factory_spark.operators.dedup import (
        IncrementalKeyDeduplicator,
        KeyDeduplicator,
        TextExactDeduplicator,
    )

    df = _dedup_fixture(spark)
    assert TextExactDeduplicator(text_col="te`xt").key_sql(df) is None
    assert KeyDeduplicator(["u`rl"], order_col="doc_id").key_sql(df) is None
    # IncrementalKeyDeduplicator's key() wraps extra sentinels — it must
    # NOT inherit the TextExact twin
    inc = IncrementalKeyDeduplicator.__new__(IncrementalKeyDeduplicator)
    assert IncrementalKeyDeduplicator.key_sql(inc, df) is None


@pytest.mark.parametrize("make_dedup", _make_dedups())
@pytest.mark.parametrize("force_composed_key", [False, True], ids=["twin-key", "composed-key"])
def test_standalone_dedup_twin(spark, make_dedup, force_composed_key):
    """Deduplicator.apply()/rejected() on the STANDALONE query path (the
    pipeline tag has its own pinned twin) must be tree- and value-identical
    to the pre-twin composed construction, replicated verbatim below. The
    composed-key variant forces effective_key_sql -> None, pinning the
    unconditional string-filter and rejection-struct spellings on their
    own."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mega_data_factory_spark.operators.base import (
        REJECTION_DETAILS_COL,
        rejection_details,
    )

    df = _dedup_fixture(spark)

    op = make_dedup()
    assert op.effective_key_sql(df) is not None, "twin must dispatch on this fixture"
    if force_composed_key:
        op.effective_key_sql = lambda df: None  # instance shadow
    fast_surv, fast_rej = op.apply(df), op.rejected(df)

    # the pre-twin composed construction, replicated verbatim
    ref = make_dedup()
    w = Window.partitionBy(F.col("__dedup_key")).orderBy(F.col(ref.order_col))
    ranked = (
        df.withColumn("__dedup_key", ref._effective_key(df))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__rep", F.first(F.col(ref.id_col)).over(w))
    )
    slow_surv = ranked.filter(F.col("__rn") == 1).drop("__dedup_key", "__rn", "__rep")
    slow_rej = (
        ranked.filter(F.col("__rn") > 1)
        .withColumn(
            REJECTION_DETAILS_COL,
            rejection_details(
                "duplicate", ref.name, F.col("__dedup_key"), F.col("__rep").cast("string")
            ),
        )
        .drop("__dedup_key", "__rn", "__rep")
    )

    for fast, slow in ((fast_surv, slow_surv), (fast_rej, slow_rej)):
        a, b = _norm(_analyzed(fast)), _norm(_analyzed(slow))
        assert a == b, "\n".join(
            f"fast: {x}\nslow: {y}" for x, y in zip(a.splitlines(), b.splitlines()) if x != y
        )
        rows_f = [str(r) for r in fast.orderBy("doc_id").collect()]
        rows_s = [str(r) for r in slow.orderBy("doc_id").collect()]
        assert rows_f == rows_s


def test_fast_path_actually_dispatches(spark):
    """The fast path must engage for plain string column names (the guard
    against a silent fallback that would quietly re-pay the py4j cost)."""
    df = _fixture_df(spark)
    for p in REFINERS:
        make = p.values[0]
        r = make()
        assert r.columns_sql_text(df) is not None, type(r).__name__
    # and the plain-column detector must refuse anything it cannot safely
    # interpolate into SQL text: backtick-carrying names (F.col cannot
    # parse those either — the composed fallback's pre-existing limit, not
    # a twin regression) and Column objects.
    from pyspark.sql import functions as F

    assert R.sql_plain_column("te`xt") is None
    assert R.sql_plain_column(F.col("text")) is None


def test_minhash_band_ids_twin(spark):
    """The MinHash signature aggregates and band fold are authored as SQL
    expr strings (round-12 py4j batch) yet are the bit-for-bit cross-engine
    key contract with the DuckDB oracle mirror — r12 advice: pin them
    against the pre-rewrite composed construction (replicated verbatim
    below) the way test_standalone_dedup_twin pins the ranked triple, so a
    future edit to the fold spelling cannot silently drift the key."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.functions.hashing import hash64_from_md5
    from mega_data_factory_spark.functions.text import word_shingles
    from mega_data_factory_spark.operators.dedup import (
        MinHashLSHDeduplicator,
        minhash_hash_family,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(9)) + f" tail{i % 5}")
        for i in range(40)
    ] + [(100, None), (101, ""), (102, "short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    op = MinHashLSHDeduplicator(num_hashes=8, bands=4)
    fast = op._band_ids(df)

    # pre-rewrite composed construction, replicated verbatim
    exploded = df.select(
        F.col(op.id_col),
        F.explode(F.array_distinct(word_shingles(op.text_col, op.shingle_n))).alias("__s"),
    ).select(F.col(op.id_col), hash64_from_md5("__s").alias("__bh"))
    sig = exploded.groupBy(op.id_col).agg(
        *[
            F.min(minhash_hash_family(F.col("__bh"), i)).alias(f"__m{i}")
            for i in range(op.num_hashes)
        ]
    )

    def band_col(b: int):
        ms = F.concat_ws(
            ",",
            *[
                F.col(f"__m{b * op.rows_per_band + r}").cast("string")
                for r in range(op.rows_per_band)
            ],
        )
        return hash64_from_md5(F.concat_ws("_", F.lit(str(b)), ms))

    slow = sig.select(
        F.col(op.id_col),
        F.explode(F.array(*[band_col(b) for b in range(op.bands)])).alias("__band_key"),
    )

    got = sorted(map(tuple, fast.collect()))
    want = sorted(map(tuple, slow.collect()))
    assert got == want and len(got) > 0


# --- LanguageIdRefiner: one alternation scan ------------------------------

LANG_EXTRA_ROWS = [
    (100, "a and andy a-and and_a banana a. A AND"),
    (101, "c++ c++x xc++ a.b axb a.b. la"),
    (102, "éla la thé the lá la"),
    (103, "THE The the der_die das"),
]


@pytest.mark.parametrize(
    "markers",
    [
        pytest.param(None, id="default"),
        pytest.param(
            # prefix markers (a / and), a marker listed twice (a), a marker
            # shared by two languages (and), metacharacter markers
            {"en": ("a", "and", "a"), "xx": ("and", "c++", "a.b"), "yy": ("la", "el")},
            id="prefix-dup-shared-meta",
        ),
        pytest.param({"only": ("c++", "a.b")}, id="no-word-run-marker"),
    ],
)
def test_language_id_one_scan_counts(spark, markers):
    """The one-scan counts equal per-language sums of word_occurrences
    (one regexp_count per marker, the reference counting rule) — per
    language, and through the argmax."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.functions.text import word_occurrences

    df = spark.createDataFrame(ROWS + LANG_EXTRA_ROWS, "doc_id long, text string")
    markers = markers or R.LANG_MARKERS
    want: dict[int, list[int]] = {}
    for lang, words in markers.items():
        ref = df.select("doc_id", sum(word_occurrences("text", w) for w in words).alias("n"))
        got = R.LanguageIdRefiner(markers={lang: words}).apply(df).select("doc_id", F.col("lang_score").alias("n"))
        ref_rows, got_rows = sorted(map(tuple, ref.collect())), sorted(map(tuple, got.collect()))
        assert got_rows == ref_rows, lang
        for doc_id, n in ref_rows:
            want.setdefault(doc_id, []).append(n)
    langs = list(markers)
    expect = {}
    for doc_id, counts in want.items():
        best = max(counts)
        expect[doc_id] = (langs[counts.index(best)] if best > 0 else "und", best)
    out = R.LanguageIdRefiner(markers=markers).apply(df)
    assert {r.doc_id: (r.lang_pred, r.lang_score) for r in out.collect()} == expect


# --- GopherQualityRefiner: split once -------------------------------------

GOPHER_COLS = [
    "gopher_word_count",
    "gopher_mean_word_len",
    "gopher_hash_ratio",
    "gopher_ellipsis_ratio",
    "gopher_bullet_line_frac",
    "gopher_ellipsis_line_frac",
    "gopher_alpha_word_frac",
    "gopher_stopword_count",
]


def _gopher_inline_sql(ref: str) -> dict[str, str]:
    """The earlier inline rendering (each signal re-splitting the text),
    kept as the value reference for the split-once form."""
    from mega_data_factory_spark.functions.text import sql_string_literal

    words = f"filter(split({ref}, {sql_string_literal(R.GOPHER_WS)}), x -> (NOT (x = '')))"
    wc = f"size({words})"
    n_chars = f"aggregate({words}, cast(0 as bigint), (x, y) -> x + length(y))"
    lines = f"split({ref}, '\\n')"
    n_lines = f"size({lines})"
    bullet_pred = " OR ".join(f"startswith(trim(x), {sql_string_literal(g)})" for g in R.GOPHER_BULLETS)
    bullet = f"size(filter({lines}, x -> ({bullet_pred})))"
    ell_lines = f"size(filter({lines}, x -> (endswith(rtrim(x), '...') OR endswith(rtrim(x), '…'))))"
    alpha = f"size(filter({words}, x -> x RLIKE '[A-Za-z]'))"
    stop_set = ", ".join(sql_string_literal(w) for w in R.GOPHER_STOPWORDS)
    stop_hits = f"size(array_intersect(array({stop_set}), split(lower({ref}), '\\\\W+')))"

    def per_word(n: str) -> str:
        return f"CASE WHEN ({wc} > 0) THEN round(cast({n} as double) / {wc}, 6) END"

    return {
        "gopher_word_count": f"cast(CASE WHEN ({ref} IS NOT NULL) THEN {wc} END as int)",
        "gopher_mean_word_len": per_word(n_chars),
        "gopher_hash_ratio": per_word(f"regexp_count({ref}, '#')"),
        "gopher_ellipsis_ratio": per_word(f"regexp_count({ref}, {sql_string_literal(R._GOPHER_ELLIPSIS)})"),
        "gopher_bullet_line_frac": f"CASE WHEN ({n_lines} > 0) THEN round(cast({bullet} as double) / {n_lines}, 6) END",
        "gopher_ellipsis_line_frac": f"CASE WHEN ({n_lines} > 0) THEN round(cast({ell_lines} as double) / {n_lines}, 6) END",
        "gopher_alpha_word_frac": per_word(alpha),
        "gopher_stopword_count": f"cast(CASE WHEN ({ref} IS NOT NULL) THEN {stop_hits} END as int)",
    }


@pytest.mark.parametrize("fixture", ["ROWS", "GOPHER_PLANTED"])
def test_gopher_split_once_matches_inline(spark, fixture):
    """The eight signals derived from the once-split word and line arrays
    equal the earlier inline expressions, value for value and type for
    type, and the private arrays do not leak into the output."""
    from mega_data_factory_spark.plans.curation import GOPHER_PLANTED

    rows = ROWS if fixture == "ROWS" else GOPHER_PLANTED
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = R.GopherQualityRefiner().apply(df)
    assert new.columns == ["doc_id", "text", *GOPHER_COLS]
    old = df.selectExpr("doc_id", "text", *[f"{s} AS {k}" for k, s in _gopher_inline_sql("`text`").items()])
    assert new.schema == old.schema
    got = [tuple(str(v) for v in r) for r in new.orderBy("doc_id").collect()]
    want = [tuple(str(v) for v in r) for r in old.orderBy("doc_id").collect()]
    assert got == want


def test_gopher_pipeline_projection_splits_once(spark):
    """In the pipeline's optimized plan the Gopher projection (refiner,
    then its filter's tag) splits the text once per array: the word split,
    the line split and the stopword split each appear exactly once."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL
    from mega_data_factory_spark.operators.filters import GopherQualityFilter
    from mega_data_factory_spark.plans.pipeline import Pipeline

    df = _fixture_df(spark).withColumn("_rejection_details", F.lit(None).cast(REJECTION_STRUCT_DDL))
    pipe = Pipeline.__new__(Pipeline)
    pipe._expr_cache = {}
    pipe._mid_cached = []
    out = pipe._apply(pipe._apply(df, R.GopherQualityRefiner()), GopherQualityFilter())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bsplit\(", plan)) == 3, plan
    assert len(re.findall(r"split\(text#\d+, \[", plan)) == 1, plan  # words
    assert len(re.findall(r"split\(text#\d+, \n", plan)) == 1, plan  # lines
    assert len(re.findall(r"split\(lower\(text#\d+\)", plan)) == 1, plan  # stopwords
