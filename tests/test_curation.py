"""Oracle-differential tests for the curation operator surface."""

import pytest

from tests.conftest import assert_query_matches_oracle

CURATION = [
    "intra_doc_dedup",
    "perplexity_bucket",
    "boilerplate_lines",
    "stratified_quota",
    "epoch_mix",
    "dataset_split_mix",
    "curation_funnel_by_source",
    "text_exact_dedup",
    "orders_first_per_customer",
    "orders_dedup_rejected",
    "text_analysis",
    "ngram_perplexity",
    "sequence_packing",
    "text_cleanup",
    "url_rule_filters",
    "c4_clean",
    "url_canonicalize",
    "doc_chunks",
    "sentence_chunks",
    "curation_pipeline",
    "curation_rejection_summary",
]


@pytest.mark.parametrize("name", CURATION)
def test_curation_matches_oracle(spark, name):
    assert_query_matches_oracle(spark, name)


@pytest.mark.parametrize("fn_name,oracle_name", [
    ("text_length_filter", "TEXT_LENGTH_ORACLE"),
    ("docs_token_stats", "_token_stats_oracle"),
])
def test_consolidated_rows_keep_oracle_bar(spark, fn_name, oracle_name):
    """text_length_filter / docs_token_stats are consolidated out of the
    driver window (covered there via curation_pipeline/text_analysis) but
    keep the identical differential bar here."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    import mega_data_factory_spark.plans.curation as cur

    fn = getattr(cur, fn_name)
    oracle = getattr(cur, oracle_name)
    sql = oracle() if callable(oracle) else oracle
    assert_df_matches_sql(fn(spark, SF_DIR_ORACLE), sql, name=fn_name)


def test_repetition_stats_matches_oracle(spark):
    """Gopher repetition signals over the real documents corpus, mirrored
    exactly in DuckDB list HOFs (registry slot full -> pytest-level oracle,
    same compare as the driver)."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.refiners import RepetitionStatsRefiner
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    out = RepetitionStatsRefiner().apply(docs).select("doc_id", "dup_word_ratio", "top_bigram_ratio").orderBy("doc_id")
    norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    sql = f"""
WITH ws AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, w,
    CASE WHEN len(w) >= 2
      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
      ELSE [] END AS b
  FROM ws)
SELECT doc_id,
  ROUND(CASE WHEN len(w) > 0 THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) ELSE 0.0 END, 6) AS dup_word_ratio,
  ROUND(CASE WHEN len(b) > 0
    THEN CAST(list_max(list_transform(list_distinct(b), x -> len(list_filter(b, y -> y = x)))) AS DOUBLE) / len(b)
    ELSE 0.0 END, 6) AS top_bigram_ratio
FROM bg ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="repetition_stats")


def test_repetition_stats_flags_repetitive_doc(spark):
    from mega_data_factory_spark.operators.refiners import RepetitionStatsRefiner

    rows = [
        (1, "spam spam spam spam spam spam"),
        (2, "eight unique words in this perfectly normal sentence"),
    ]
    out = {r.doc_id: r for r in RepetitionStatsRefiner().apply(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[1].dup_word_ratio > 0.8 and out[1].top_bigram_ratio == 1.0
    assert out[2].dup_word_ratio == 0.0 and out[2].top_bigram_ratio < 0.2


def test_pii_redact_matches_oracle(spark):
    """PII counts + redaction on a synthetic corpus, identical VALUES rows
    fed to both engines; replacement order (email -> phone -> ip) mirrored."""
    from tests.conftest import assert_df_matches_sql
    from mega_data_factory_spark.operators.refiners import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        PiiRedactRefiner,
    )

    rows = [
        (1, "contact alice.smith+spam@example.co.uk or call 555-123-4567 now"),
        (2, "server at 192.168.0.1 and 10.0.0.255, no mail here"),
        (3, "two mails: a@b.io c.d@e-f.org and phone 123 456 7890"),
        (4, "clean text with digits 12345 and a dot. nothing else"),
        (5, "edge: not-an-ip 1.2.3 and almost-phone 12-345-6789"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = PiiRedactRefiner().apply(df).select(
        "doc_id", "pii_email_count", "pii_phone_count", "pii_ip_count", "text_redacted"
    ).orderBy("doc_id")
    values = ", ".join(f"({i}, '{t}')" for i, t in rows)
    sql = f"""
WITH corpus(doc_id, text) AS (VALUES {values})
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INT) AS pii_email_count,
  CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS INT) AS pii_phone_count,
  CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS INT) AS pii_ip_count,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{PII_EMAIL}', '<EMAIL>', 'g'), '{PII_PHONE}', '<PHONE>', 'g'), '{PII_IPV4}', '<IP>', 'g') AS text_redacted
FROM corpus ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="pii_redact")


H64 = "CAST(('0x' || substr(md5({v}), 1, 15)) AS BIGINT)"


def test_dataset_split_matches_oracle(spark):
    """DatasetSplitRefiner: hash-bucket split assignment is reproducible in
    ANSI SQL (the whole point — partition-independent, engine-independent
    splits), verified value-for-value against DuckDB on real documents."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.sampling import DatasetSplitRefiner

    docs = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
    r = DatasetSplitRefiner({"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id")
    out = r.apply(docs).select("doc_id", "split").orderBy("doc_id")
    # mirror the refiner's default salt ("split" — distinct from the
    # sampler's "mix" so composed sample+split flows decorrelate)
    b = H64.format(v=f"CAST(doc_id AS VARCHAR) || '#{r.salt}'") + " % 10000"
    sql = f"""
SELECT doc_id,
  CASE WHEN {b} < 8000 THEN 'train' WHEN {b} < 9000 THEN 'val' ELSE 'test' END AS split
FROM documents ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="dataset_split")
    # sanity: ratios are roughly honored on 500 docs
    from pyspark.sql import functions as F

    frac = {x["split"]: x["n"] for x in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert frac["train"] > 300 and frac["val"] > 10 and frac["test"] > 10


def test_weighted_sampler_matches_oracle(spark):
    """WeightedSourceSampler: per-source deterministic mixing ratios match
    the SQL mirror exactly; weight 0.0 removes a source entirely and the
    survivor set is identical run-to-run (no rand())."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.sampling import WeightedSourceSampler

    docs = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
    s = WeightedSourceSampler({"src1": 0.5, "src2": 0.0}, default_weight=1.0, id_col="doc_id")
    out = s.apply(docs).select("doc_id", "source").orderBy("doc_id")
    b = H64.format(v=f"CAST(doc_id AS VARCHAR) || '#{s.salt}'") + " % 10000"
    sql = f"""
SELECT doc_id, source FROM documents
WHERE {b} < (CASE WHEN source = 'src2' THEN 0 WHEN source = 'src1' THEN 5000 ELSE 10000 END)
ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="weighted_sampler")
    rows = out.collect()
    assert not any(r.source == "src2" for r in rows)
    # deterministic: second run yields the identical survivor set
    again = {r.doc_id for r in s.apply(docs).select("doc_id").collect()}
    assert again == {r.doc_id for r in rows}


def test_epoch_mixer_matches_oracle(spark):
    """EpochWeightedMixer: fractional-epoch UPSAMPLING (weights > 1) is
    deterministic and reproducible in ANSI SQL — every (doc_id, epoch) row
    matches the lateral range(n) mirror, including floor+partial epoch
    counts and weight-0 removal."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.sampling import EpochWeightedMixer

    docs = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
    m = EpochWeightedMixer(
        {"src1": 2.45, "src2": 0.0, "src3": 0.3}, default_weight=1.0, id_col="doc_id"
    )
    out = m.apply(docs).select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")
    b = H64.format(v=f"CAST(doc_id AS VARCHAR) || '#{m.salt}'") + " % 10000"
    n = (
        f"(CASE WHEN source = 'src1' THEN 2 + (CASE WHEN {b} < 4500 THEN 1 ELSE 0 END) "
        f"WHEN source = 'src2' THEN 0 "
        f"WHEN source = 'src3' THEN (CASE WHEN {b} < 3000 THEN 1 ELSE 0 END) "
        f"ELSE 1 END)"
    )
    sql = f"""
WITH r AS (SELECT doc_id, source, {n} AS n FROM documents)
SELECT doc_id, source, CAST(unnest(range(n)) AS INT) AS epoch
FROM r ORDER BY doc_id, epoch
"""
    assert_df_matches_sql(out, sql, name="epoch_mixer")
    from pyspark.sql import functions as F

    per_src = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_src1 = docs.filter(F.col("source") == "src1").count()
    assert "src2" not in per_src  # weight 0 removes the source
    # realized epochs track the weight (hash buckets are ~uniform)
    assert abs(per_src["src1"] / n_src1 - 2.45) < 0.25
    # partition layout cannot change the output (the determinism contract)
    re = m.apply(docs.repartition(7)).select("doc_id", "epoch")
    assert sorted(map(tuple, re.collect())) == sorted((r.doc_id, r.epoch) for r in out.collect())


def test_epoch_mixer_pipeline_tagging(spark):
    """Pipeline path: dead rows pass through untouched as one NULL-epoch
    copy, zero-repeat alive rows are TAGGED sampled_out (not dropped), and
    alive rows explode with the tag preserved."""
    from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL, rejection_details
    from mega_data_factory_spark.operators.sampling import EpochWeightedMixer
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "up" if i % 2 == 0 else "gone") for i in range(20)], "doc_id long, source string"
    ).withColumn(
        REJECTION_DETAILS_COL,
        F.when(F.col("doc_id") < 4, rejection_details("filtered", "Prior")),
    )
    m = EpochWeightedMixer({"up": 2.0, "gone": 0.0}, id_col="doc_id")
    out = m.apply(df).cache()
    dead = out.filter(F.col(REJECTION_DETAILS_COL).isNotNull())
    alive = out.filter(F.col(REJECTION_DETAILS_COL).isNull())
    # previously-rejected rows: exactly one copy each, operator untouched
    prior = dead.filter(F.col(f"{REJECTION_DETAILS_COL}.operator") == "Prior")
    assert prior.count() == 4
    assert prior.filter(F.col("epoch").isNotNull()).count() == 0
    # weight-0 alive rows: one copy, tagged by the mixer
    gone = dead.filter(F.col(f"{REJECTION_DETAILS_COL}.operator") == m.name)
    assert gone.count() == 8 and {r.source for r in gone.collect()} == {"gone"}
    assert {r[0] for r in gone.select(f"{REJECTION_DETAILS_COL}.reason").collect()} == {"sampled_out"}
    # weight-2 alive rows: exactly two copies, epochs 0 and 1
    assert alive.count() == 16
    assert alive.groupBy("doc_id").count().filter("count != 2").count() == 0
    assert {r.epoch for r in alive.collect()} == {0, 1}
    out.unpersist()


def test_temperature_weights(spark):
    """temperature_weights: alpha=1 reproduces natural proportions (all
    weights 1), alpha=0 equalizes expected counts, and the constant-volume
    contract holds for intermediate alpha."""
    import pytest as _pytest

    from mega_data_factory_spark.operators.sampling import temperature_weights

    sizes = {"crawl": 1_000_000, "wiki": 10_000, "books": 40_000}
    w1 = temperature_weights(sizes, 1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in w1.values())
    w0 = temperature_weights(sizes, 0.0)
    counts = {s: w0[s] * n for s, n in sizes.items()}
    assert max(counts.values()) - min(counts.values()) < 1e-6  # uniform
    w = temperature_weights(sizes, 0.3)
    assert abs(sum(w[s] * n for s, n in sizes.items()) - sum(sizes.values())) < 1e-6
    assert w["wiki"] > 1.0 > w["crawl"]  # tail lifted, head cut
    with _pytest.raises(ValueError):
        temperature_weights(sizes, -0.1)
    with _pytest.raises(ValueError):
        temperature_weights({}, 0.5)


def test_epoch_mixer_unique_id_composes_with_packing(spark):
    """After upsampling, doc_id repeats across epochs — unique_id_col
    restores a unique identity (bare id for epoch 0, id#epoch beyond) so
    downstream id-keyed stages (packing windows, dedup) stay deterministic
    and don't collapse the repeats."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.packing import SequencePacker
    from mega_data_factory_spark.operators.sampling import EpochWeightedMixer

    docs = spark.createDataFrame(
        [(i, "u", "word " * 20) for i in range(40)], "doc_id long, source string, text string"
    )
    m = EpochWeightedMixer({"u": 2.0}, id_col="doc_id", unique_id_col="uid")
    out = m.apply(docs)
    assert out.count() == 80
    assert out.select("uid").distinct().count() == 80  # truly unique
    # epoch 0 keeps the bare id string (weight<=1 mixes stay id-stable)
    e0 = {r.uid for r in out.filter(F.col("epoch") == 0).collect()}
    assert e0 == {str(i) for i in range(40)}
    # packing keyed on uid: every repeat is packed (nothing collapses),
    # deterministically across layouts
    p = SequencePacker(seq_len=64, buckets=4, id_col="uid")
    a = sorted(map(tuple, p.apply(out).select("uid", "pack_bucket", "seq_id", "seq_offset").collect()))
    b = sorted(map(tuple, p.apply(out.repartition(7)).select("uid", "pack_bucket", "seq_id", "seq_offset").collect()))
    assert a == b and len(a) == 80


def test_boilerplate_line_refiner_behavior(spark):
    """Lines repeating across >= max(min_docs, frac*docs) documents are
    stripped per-document; prose survives; within-doc repetition alone is
    NOT boilerplate; short lines never counted or removed; NULL text
    stays NULL."""
    from mega_data_factory_spark.operators.refiners import BoilerplateLineRefiner

    chrome = "Accept cookies to continue browsing"
    rows = [(i, f"unique prose line number {i}\n{chrome}\nmore prose {i}") for i in range(8)]
    rows += [(100, "repeated inside only\nrepeated inside only\nrepeated inside only")]
    rows += [(101, "hi\nhi\nhi\nshort lines stay put even when common")]
    rows += [(102, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = BoilerplateLineRefiner(min_doc_frac=0.5, min_docs=3)
    out = {x.doc_id: x for x in r.apply(df).collect()}
    for i in range(8):
        assert chrome not in out[i].text_cleaned
        assert f"unique prose line number {i}" in out[i].text_cleaned
        assert out[i].boilerplate_lines_removed == 1
    # within-doc repetition is untouched (distinct (doc,line) counting)
    assert out[100].text_cleaned == rows[8][1]
    assert out[100].boilerplate_lines_removed == 0
    # "hi" is under min_line_chars: kept even though it repeats
    assert out[101].text_cleaned.count("hi") == 3
    assert out[102].text_cleaned is None and out[102].boilerplate_lines_removed == 0


def test_boilerplate_line_refiner_matches_oracle(spark):
    """Value-for-value DuckDB mirror of the full clean: split with
    ordinality, distinct doc-frequency per line, threshold cut, ordered
    string_agg rebuild."""
    from tests.conftest import assert_df_matches_sql
    from mega_data_factory_spark.operators.refiners import BoilerplateLineRefiner
    from pyspark.sql import functions as F

    chrome, foot = "cookie banner boilerplate line", "all rights reserved footer"
    rows = []
    for i in range(10):
        body = [f"document {i} opening paragraph", chrome]
        if i % 2 == 0:
            body.append(foot)
        body.append(f"closing thoughts {i}")
        rows.append((i, "\n".join(body)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = BoilerplateLineRefiner(min_doc_frac=0.6, min_docs=2)
    out = r.apply(df).select("doc_id", "text_cleaned", "boilerplate_lines_removed").orderBy("doc_id")
    values = ", ".join("({}, '{}')".format(i, t.replace("\n", "' || chr(10) || '")) for i, t in rows)
    n_docs = len(rows)
    thr = f"GREATEST(2, CAST(CEIL(0.6 * {n_docs}) AS BIGINT))"
    sql = f"""
WITH corpus(doc_id, text) AS (VALUES {values}),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM corpus
),
counted AS (
  SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines
  WHERE length(trim(line)) >= 10 GROUP BY line
),
boiler AS (SELECT line FROM counted WHERE df >= {thr}),
kept AS (
  SELECT l.doc_id, l.line, l.pos, b.line IS NULL AS keep
  FROM lines l LEFT JOIN boiler b ON (length(trim(l.line)) >= 10 AND l.line = b.line)
)
SELECT doc_id,
  COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS text_cleaned,
  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS boilerplate_lines_removed
FROM kept GROUP BY doc_id ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="boilerplate_lines")


def test_stratified_quota_sampler_behavior(spark):
    """Exactly min(quota, stratum size) rows per quoted stratum; selection
    is deterministic under repartitioning; unquoted strata pass untouched;
    NULL ids never fill a quota; tagged mode tags instead of dropping."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL
    from mega_data_factory_spark.operators.sampling import StratifiedQuotaSampler

    rows = [(i, "a") for i in range(40)] + [(100 + i, "b") for i in range(5)]
    rows += [(200 + i, "c") for i in range(10)] + [(None, "a")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    s = StratifiedQuotaSampler({"a": 7, "b": 50}, id_col="doc_id", stratum_col="source")
    out = s.apply(df)
    by_src = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src == {"a": 7, "b": 5, "c": 10}  # exact / whole / unquoted
    picked = sorted(r.doc_id for r in out.filter(F.col("source") == "a").collect())
    assert None not in picked
    # identical pick regardless of physical layout
    picked2 = sorted(
        r.doc_id
        for r in s.apply(df.repartition(13)).filter(F.col("source") == "a").collect()
    )
    assert picked == picked2
    # histogram boundary logic is exact at ANY bucket count
    for hb in (2, 64):
        s2 = StratifiedQuotaSampler({"a": 7, "b": 50}, id_col="doc_id", hist_buckets=hb)
        got = sorted(r.doc_id for r in s2.apply(df).filter(F.col("source") == "a").collect())
        assert got == picked

    tagged = df.withColumn(REJECTION_DETAILS_COL, F.lit(None).cast(
        "struct<reason:string,operator:string,dedup_key:string,representative_id:string>"))
    tout = s.apply(tagged)
    assert tout.count() == len(rows)  # nothing dropped, only tagged
    reasons = {r["r"] for r in tout.filter(F.col(REJECTION_DETAILS_COL).isNotNull())
               .select(F.col(f"{REJECTION_DETAILS_COL}.reason").alias("r")).collect()}
    assert reasons == {"quota_exceeded"}
    kept = tout.filter(F.col(REJECTION_DETAILS_COL).isNull())
    assert {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()} == by_src


def test_stratified_quota_sampler_matches_oracle(spark):
    """The histogram cut equals the global per-stratum rank: DuckDB mirror
    via row_number() OVER (PARTITION BY source ORDER BY h, id) <= quota
    with the engine's md5-derived hash reproduced exactly."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.sampling import StratifiedQuotaSampler
    from mega_data_factory_spark.session import load_tables

    quotas = {"src1": 17, "src3": 0, "src5": 4}
    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    out = (
        StratifiedQuotaSampler(quotas, id_col="doc_id", stratum_col="source")
        .apply(docs)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )
    qcase = " ".join(f"WHEN source = '{s}' THEN {q}" for s, q in quotas.items())
    sql = f"""
WITH h AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#quota'), 1, 15))::BIGINT AS hh,
         CASE {qcase} ELSE NULL END AS q
  FROM documents
),
ranked AS (
  SELECT doc_id, source, q,
         row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
  FROM h
)
SELECT doc_id, source FROM ranked
WHERE q IS NULL OR (doc_id IS NOT NULL AND rn <= q)
ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="stratified_quota")


def test_url_canonicalize_behavior(spark):
    """Scheme/www/port/fragment/tracking-params collapse to one spelling;
    query params sort; host-less and NULL/blank inputs give NULL."""
    from mega_data_factory_spark.operators.refiners import UrlCanonicalizeRefiner

    rows = [
        (1, "HTTPS://WWW.Example.COM:8080/Path/?utm_source=x&b=2&a=1#frag"),
        (2, "http://example.com/Path?a=1&b=2"),
        (3, "example.com/Path/?b=2&a=1&fbclid=zzz"),
        (4, "http://user:pw@host.net./dir//"),
        (5, "https://site.org/x?utm_campaign=c&gclid=g"),  # all-tracking query
        (6, "http://site.org"),
        (7, None),
        (8, "   "),
        (9, "/relative/only"),  # no host -> NULL
        (10, "mailto:info@example.com"),  # no //-authority: keep userinfo
        (11, "info@example.com"),  # bare email in the url field
        (12, "//user@Host.NET/x?b=2&a=1"),  # protocol-relative authority
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {r.id: r.url_canonical for r in UrlCanonicalizeRefiner().apply(df).collect()}
    assert out[1] == out[2] == out[3] == "example.com/Path?a=1&b=2"
    assert out[4] == "host.net/dir"
    assert out[5] == "site.org/x"
    assert out[6] == "site.org"
    assert out[7] is None and out[8] is None and out[9] is None
    # userinfo is ONLY stripped behind an explicit //-authority: mailto/bare
    # email values must NOT alias with the example.com site root
    assert out[10] == "mailto:info@example.com"
    assert out[11] == "info@example.com"
    assert out[12] == "host.net/x?a=1&b=2"  # protocol-relative != NULL

    # the intended composition: exact URL dedup across spellings.
    # null_keys="distinct" is the url-dedup mode: canonical-NULL rows
    # (missing/blank/host-less urls) carry no identity and must ALL
    # survive — the default window would collapse 7/8/9 into one.
    from mega_data_factory_spark.operators.dedup import KeyDeduplicator

    survivors = {
        r.id
        for r in KeyDeduplicator(["url_canonical"], order_col="id", null_keys="distinct")
        .apply(UrlCanonicalizeRefiner().apply(df))
        .collect()
    }
    assert {1, 4, 5, 6, 7, 8, 9, 10, 11} <= survivors
    assert 2 not in survivors and 3 not in survivors


def test_url_canonicalize_matches_oracle(spark):
    """Token-for-token DuckDB mirror of every canonicalization step —
    scheme strip, fragment cut, userinfo/port/www/trailing-dot host
    normalization, trailing-slash path cut, tracking-param filter and
    query sort (patterns in the Java/RE2 common subset)."""
    from tests.conftest import assert_df_matches_sql
    from mega_data_factory_spark.functions.urls import TRACKING_PARAM_RE
    from mega_data_factory_spark.operators.refiners import UrlCanonicalizeRefiner

    rows = [
        (1, "HTTPS://WWW.Example.COM:8080/Path/?utm_source=x&b=2&a=1#frag"),
        (2, "http://example.com/Path?a=1&b=2"),
        (3, "example.com/Path/?b=2&a=1&fbclid=zzz"),
        (4, "ftp://user:pw@Host.NET./dir//"),
        (5, "https://site.org/x?utm_campaign=c&gclid=g&ref"),
        (6, "http://site.org?download&z=9"),
        (7, "blog.example.co.uk/a/b/c?_ga=1.2&mc_cid=x&keep=yes"),
        (8, "http://www.w.org:"),
        (9, "site.io/page#section?notquery"),
        (10, "mailto:info@example.com"),
        (11, "Contact@Example.COM"),
        (12, "//user:pw@Host.NET:8080/x/?b=2&utm_medium=m&a=1"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = UrlCanonicalizeRefiner().apply(df).select("id", "url_canonical").orderBy("id")
    values = ", ".join(f"({i}, '{u}')" for i, u in rows)
    sql = f"""
WITH corpus(id, url) AS (VALUES {values}),
s AS (
  SELECT id,
         regexp_replace(regexp_replace(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*:)?//', ''),
                        '#.*$', '') AS bare,
         trim(url) AS u
  FROM corpus
),
parts AS (
  SELECT id, u, bare,
         regexp_matches(u, '^([a-zA-Z][a-zA-Z0-9+.-]*:)?//') AS had_authority,
         regexp_extract(bare, '^([^/?]+)', 1) AS authority,
         regexp_extract(bare, '^[^/?]+([^?]*)', 1) AS rawpath,
         CASE WHEN contains(bare, '?') THEN regexp_extract(bare, '\\?(.*)$', 1) ELSE '' END AS q
  FROM s
),
hp AS (
  SELECT id, u, q,
         regexp_replace(regexp_replace(
             regexp_replace(lower(CASE WHEN had_authority
                                       THEN regexp_replace(authority, '^[^@]*@', '')
                                       ELSE authority END),
                            ':[0-9]*$', ''),
             '^www\\.', ''), '\\.$', '') AS host,
         regexp_replace(rawpath, '/+$', '') AS path
  FROM parts
),
qf AS (
  SELECT id, u, host, path,
         list_sort(list_filter(string_split(q, '&'),
                   p -> length(p) > 0 AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))) AS params
  FROM hp
)
SELECT id,
       CASE WHEN u IS NULL OR length(u) = 0 OR length(host) = 0 THEN NULL
            ELSE host || path ||
                 CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END
       END AS url_canonical
FROM qf ORDER BY id
"""
    assert_df_matches_sql(out, sql, name="url_canonicalize")


def test_intradoc_dedup_refiner_behavior(spark):
    """First occurrence of a repeated unit survives, later ones drop, order
    is preserved; short units (blank separators, bullets) always survive;
    NULL text stays NULL; paragraph mode dedups on the blank-line unit."""
    from mega_data_factory_spark.operators.refiners import IntraDocDedupRefiner

    quoted = "the same quoted paragraph repeated verbatim"
    rows = [
        (1, f"opening prose line one\n{quoted}\nmiddle prose\n{quoted}\n{quoted}\nclosing"),
        (2, "-\nlong unique line alpha\n-\nlong unique line beta\n-"),  # short repeats kept
        (3, "no duplicates here at all\nsecond distinct line"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in IntraDocDedupRefiner().apply(df).collect()}
    assert out[1].text_deduped == f"opening prose line one\n{quoted}\nmiddle prose\nclosing"
    assert out[1].dup_units_removed == 2
    assert out[2].text_deduped == rows[1][1] and out[2].dup_units_removed == 0
    assert out[3].text_deduped == rows[2][1] and out[3].dup_units_removed == 0
    assert out[4].text_deduped is None and out[4].dup_units_removed == 0
    assert out[5].text_deduped == "" and out[5].dup_units_removed == 0

    para = "first paragraph of real content\n\nsecond paragraph entirely\n\nfirst paragraph of real content"
    pdf = spark.createDataFrame([(1, para)], "doc_id long, text string")
    pout = IntraDocDedupRefiner(sep="\n\n").apply(pdf).first()
    assert pout.text_deduped == "first paragraph of real content\n\nsecond paragraph entirely"
    assert pout.dup_units_removed == 1


def test_intradoc_dedup_matches_oracle(spark):
    """Value-for-value DuckDB mirror: split with ordinality, row_number per
    (doc, unit) by position, countable-gated drop, ordered rebuild."""
    from tests.conftest import assert_df_matches_sql
    from mega_data_factory_spark.operators.refiners import IntraDocDedupRefiner

    quoted = "a block quoted twice in the thread"
    rows = []
    for i in range(12):
        body = [f"document {i} first line of prose", quoted, f"reply text {i}"]
        if i % 3 == 0:
            body += [quoted, quoted]  # in-doc repeats for a third of docs
        if i % 4 == 0:
            body += ["", f"document {i} first line of prose"]  # blank + repeat of line 1
        rows.append((i, "\n".join(body)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        IntraDocDedupRefiner()
        .apply(df)
        .select("doc_id", "text_deduped", "dup_units_removed")
        .orderBy("doc_id")
    )
    values = ", ".join("({}, '{}')".format(i, t.replace("\n", "' || chr(10) || '")) for i, t in rows)
    sql = f"""
WITH corpus(doc_id, text) AS (VALUES {values}),
units AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS u,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM corpus
),
marked AS (
  SELECT doc_id, u, pos,
         CASE WHEN length(trim(u)) >= 10
              THEN row_number() OVER (PARTITION BY doc_id, u ORDER BY pos)
              ELSE 1 END AS rn
  FROM units
)
SELECT doc_id,
  COALESCE(string_agg(CASE WHEN rn = 1 THEN u END, chr(10) ORDER BY pos), '') AS text_deduped,
  CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS INT) AS dup_units_removed
FROM marked GROUP BY doc_id ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="intradoc_dedup")


def test_unicode_normalize_matches_oracle(spark):
    """NFC + control-strip mirrored by DuckDB's nfc_normalize + regexp -
    NFD composition, embedded controls, newline/tab preservation, NULLs."""
    from tests.conftest import assert_df_matches_sql
    from mega_data_factory_spark.operators.refiners import UnicodeNormalizeRefiner

    rows = [
        (1, "cafe\u0301 du monde"),            # NFD e + combining acute
        (2, "tabs\tand\nnewlines survive"),
        (3, "ctrl\x08chars\x00gone"),
        (4, "plain ascii unchanged"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = UnicodeNormalizeRefiner().apply(df).select(
        "doc_id", "text_normalized", "unicode_changed"
    ).orderBy("doc_id")

    def lit(t):
        if t is None:
            return "NULL"
        s = t.replace(chr(0), "' || chr(0) || '").replace(chr(8), "' || chr(8) || '")
        s = s.replace("\t", "' || chr(9) || '").replace("\n", "' || chr(10) || '")
        s = s.replace("\u0301", "' || chr(769) || '")
        return "'" + s + "'"

    values = ", ".join(f"({i}, {lit(t)})" for i, t in rows)
    ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
    sql = f"""
WITH corpus(doc_id, text) AS (VALUES {values}),
n AS (
  SELECT doc_id, text,
    regexp_replace(nfc_normalize(text), '{ctrl}', '', 'g') AS text_normalized
  FROM corpus
)
SELECT doc_id, text_normalized,
  CASE WHEN text IS NULL THEN NULL ELSE text != text_normalized END AS unicode_changed
FROM n ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="unicode_normalize")
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].text_normalized == "caf\u00e9 du monde" and got[1].unicode_changed
    assert got[2].text_normalized == rows[1][1] and not got[2].unicode_changed
    assert got[3].text_normalized == "ctrlcharsgone"
    assert got[5].text_normalized is None and got[5].unicode_changed is None


def test_unicode_mojibake_repair(spark):
    """fix_mojibake repairs UTF-8-read-as-latin1 double encoding but never
    touches clean text."""
    from mega_data_factory_spark.operators.refiners import UnicodeNormalizeRefiner

    rows = [
        (1, "caf\u00c3\u00a9 au lait"),                      # mojibake for "cafe/acute"
        (2, "\u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d text"),  # mojibake smart quotes
        (3, "no artifacts at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text_normalized for r in UnicodeNormalizeRefiner(
        fix_mojibake=True).apply(df).collect()}
    assert out[1] == "caf\u00e9 au lait"
    assert "quoted" in out[2] and "\u00e2\u20ac" not in out[2]
    assert out[3] == "no artifacts at all"


def test_boilerplate_alive_rows_only_vote(spark):
    """Pipeline path: a line repeating only among already-REJECTED docs is
    not boilerplate for the survivors; dead rows keep NULL outputs."""
    from mega_data_factory_spark.operators.base import (
        REJECTION_DETAILS_COL,
        rejection_details,
    )
    from mega_data_factory_spark.operators.refiners import BoilerplateLineRefiner
    from pyspark.sql import functions as F

    spamline = "identical spam footer line here"
    alive_rows = [(i, f"real prose {i}\n{spamline}") for i in range(2)]
    dead_rows = [(100 + i, f"junk {i}\n{spamline}") for i in range(6)]
    df = spark.createDataFrame(alive_rows + dead_rows, "doc_id long, text string").withColumn(
        REJECTION_DETAILS_COL,
        F.when(F.col("doc_id") >= 100, rejection_details("filtered", "Prior")),
    )
    # threshold 4 docs: spamline repeats in 8 docs total but only 2 ALIVE
    r = BoilerplateLineRefiner(min_doc_frac=0.1, min_docs=4)
    out = {x.doc_id: x for x in r.apply(df).collect()}
    assert spamline in out[0].text_cleaned  # alive votes alone miss the bar
    assert out[100].text_cleaned is None and out[100].boilerplate_lines_removed is None
    # raise alive repetition to the bar: now it IS boilerplate for alive docs
    alive_many = [(i, f"real prose {i}\n{spamline}") for i in range(5)]
    df2 = spark.createDataFrame(alive_many + dead_rows, "doc_id long, text string").withColumn(
        REJECTION_DETAILS_COL,
        F.when(F.col("doc_id") >= 100, rejection_details("filtered", "Prior")),
    )
    out2 = {x.doc_id: x for x in r.apply(df2).collect()}
    assert spamline not in out2[0].text_cleaned


def test_boilerplate_null_group_not_exempt(spark):
    """group_col mode: docs with a NULL group value still get boilerplate
    stripped (NUL-sentinel group key; a plain equi-join would silently
    exempt every no-domain row)."""
    from mega_data_factory_spark.operators.refiners import BoilerplateLineRefiner

    chrome = "identical cookie banner line text"
    rows = [(i, None, f"prose {i}\n{chrome}") for i in range(5)]
    rows += [(10, "a.com", f"other prose\n{chrome}")]
    df = spark.createDataFrame(rows, "doc_id long, domain string, text string")
    r = BoilerplateLineRefiner(min_doc_frac=0.5, min_docs=3, group_col="domain")
    out = {x.doc_id: x for x in r.apply(df).collect()}
    for i in range(5):  # NULL-domain group: 5 docs share the line -> stripped
        assert chrome not in out[i].text_cleaned
    # a.com group has only 1 doc with it -> kept there
    assert chrome in out[10].text_cleaned


def test_c4_heuristic_refiner_behavior(spark):
    """Published C4 line rules: terminal punctuation, >= 3 words, no
    'javascript'; page flags for braces / lorem ipsum / blocklist words;
    sentence proxy counts terminal marks in the CLEANED text; NULL text
    stays NULL with zeroed counts and false flags."""
    from mega_data_factory_spark.operators.refiners import C4HeuristicRefiner

    rows = [
        (1, 'Good prose line one.\nEnable JavaScript to continue.\nshort.\nno terminal punctuation here\nAnother fine sentence! Really.\nQuoted line ends right."'),
        (2, 'function f() { return 1; }\nA real sentence with words.'),
        (3, 'Lorem Ipsum dolor sit amet.\nMore filler text follows here.'),
        (4, 'This page mentions badword openly.\nClean second line here.'),
        (5, None),
        (6, ''),
        # ellipsis + multi-mark runs: each RUN is one sentence boundary —
        # counting characters would report 3 + 2 extra phantom sentences
        (7, 'A trailing thought goes on...\nIs that really so?!\nOne more plain sentence.'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in C4HeuristicRefiner(bad_words=("badword",)).apply(df).collect()}

    # doc 1: js line, <3-word line, no-punct line all drop; 3 lines survive
    assert out[1].c4_text == 'Good prose line one.\nAnother fine sentence! Really.\nQuoted line ends right."'
    assert out[1].c4_lines_removed == 3
    assert out[1].c4_sentences == 4  # . ! . and the period inside the quoted line
    assert not out[1].c4_flag_brace and not out[1].c4_flag_lorem and not out[1].c4_flag_badword
    # doc 2: brace flag set page-wide; the code line also fails the line rules
    assert out[2].c4_flag_brace and out[2].c4_text == "A real sentence with words."
    # doc 3: lorem flag is case-insensitive
    assert out[3].c4_flag_lorem
    # doc 4: whole-word blocklist hit
    assert out[4].c4_flag_badword and not out[4].c4_flag_lorem
    # NULL text
    assert out[5].c4_text is None and out[5].c4_lines_removed == 0
    assert out[5].c4_sentences == 0 and not out[5].c4_flag_badword
    # empty text: the single empty line fails the rules
    assert out[6].c4_text == "" and out[6].c4_lines_removed == 1 and out[6].c4_sentences == 0
    # runs count once: '...' -> 1, '?!' -> 1, '.' -> 1 (chars would say 6)
    assert out[7].c4_lines_removed == 0 and out[7].c4_sentences == 3


def test_c4_page_filter_behavior(spark):
    """Page drops: any flag or < min_sentences rejects; rows that never saw
    the refiner (NULL columns) fail closed."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.filters import C4PageFilter
    from mega_data_factory_spark.operators.refiners import C4HeuristicRefiner

    five = " ".join(f"Sentence number {i} is here." for i in range(5))
    rows = [
        (1, five),                            # passes
        (2, "Only one real sentence here."),  # too few sentences
        (3, five + "\nlorem ipsum"),          # lorem page flag
        (4, five + " extra { brace"),         # brace flag
    ]
    df = C4HeuristicRefiner().apply(spark.createDataFrame(rows, "doc_id long, text string"))
    f = C4PageFilter(min_sentences=5)
    assert [r.doc_id for r in f.apply(df).collect()] == [1]
    rej = {r.doc_id for r in f.rejected(df).collect()}
    assert rej == {2, 3, 4}
    # fail-closed on frames missing the refiner columns' values
    bare = df.select("doc_id", "text").withColumn("c4_flag_brace", F.lit(None).cast("boolean")) \
        .withColumn("c4_flag_lorem", F.lit(None).cast("boolean")) \
        .withColumn("c4_flag_badword", F.lit(None).cast("boolean")) \
        .withColumn("c4_sentences", F.lit(None).cast("int"))
    assert f.apply(bare).count() == 0


def test_c4_heuristic_matches_oracle(spark):
    """Value-for-value DuckDB mirror over the real documents corpus plus
    planted multi-line C4-shaped rows (the synthetic corpus is single-line
    and unpunctuated, so the planted rows make every rule observable)."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.refiners import C4HeuristicRefiner
    from mega_data_factory_spark.session import load_tables

    planted = [
        (100001, 'Opening sentence stands alone.\nEnable JavaScript now please.\ntiny.\nA second good sentence follows!\nbare words without ending'),
        (100002, 'Code sample { x = 1; }\nReadable prose sentence here.'),
        (100003, 'Lorem ipsum placeholder page.\nReal content sentence too.'),
        (100004, None),
        (100005, ''),
    ]
    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"].select("doc_id", "text")
    df = docs.unionByName(spark.createDataFrame(planted, "doc_id long, text string"))
    out = (
        C4HeuristicRefiner()
        .apply(df)
        .select("doc_id", "c4_text", "c4_lines_removed", "c4_sentences",
                "c4_flag_brace", "c4_flag_lorem")
        .orderBy("doc_id")
    )
    values = ", ".join(
        "({}, {})".format(i, "NULL" if t is None else "'" + t.replace("'", "''").replace("\n", "' || chr(10) || '") + "'")
        for i, t in planted
    )
    ws = r"[ \t\x0B\f\r]+"
    sql = f"""
WITH corpus(doc_id, text) AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES {values})
),
kept AS (
  SELECT doc_id, text,
    CASE WHEN text IS NULL THEN NULL ELSE
      list_filter(string_split(text, chr(10)), u ->
        regexp_matches(trim(u), '[.!?"]$')
        AND len(list_filter(regexp_split_to_array(trim(u), '{ws}'), w -> w <> '')) >= 3
        AND NOT contains(lower(u), 'javascript'))
    END AS ks
  FROM corpus
)
SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL ELSE COALESCE(array_to_string(ks, chr(10)), '') END AS c4_text,
  CAST(CASE WHEN text IS NULL THEN 0
       ELSE len(string_split(text, chr(10))) - len(ks) END AS INT) AS c4_lines_removed,
  CAST(COALESCE(len(regexp_extract_all(array_to_string(ks, chr(10)), '[.!?]+')), 0) AS INT) AS c4_sentences,
  COALESCE(contains(text, '{{'), FALSE) AS c4_flag_brace,
  COALESCE(contains(lower(text), 'lorem ipsum'), FALSE) AS c4_flag_lorem
FROM kept ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="c4_heuristic")


def test_c4_blocklist_nonword_edge_entries(spark):
    """Entries that start/end in non-word chars (the LDNOOBW shape \\b can
    never match at) still flag pages; word-char entries keep whole-word
    semantics (no substring hits)."""
    from mega_data_factory_spark.operators.refiners import C4HeuristicRefiner

    rows = [
        (1, "the price a$$ here is fine."),
        (2, "tall grass waves in the wind."),   # 'ass' must NOT hit inside 'grass'
        (3, "ends with badword"),                # entry at string end
        (4, "+sym+ leads the line here."),       # symbol-edged entry
    ]
    r = C4HeuristicRefiner(bad_words=("a$$", "ass", "badword", "+sym+"))
    got = {x.doc_id: x.c4_flag_badword for x in r.apply(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert got == {1: True, 2: False, 3: True, 4: True}


def test_compression_ratio_refiner(spark):
    """zlib-ratio quality signal: value-for-value against direct zlib over
    the real corpus plus planted tails (repetitive boilerplate compresses
    to a LOW ratio, base64-ish noise to a HIGH one; NULL/blank -> NULL);
    the plan pays exactly one Arrow crossing; registry + level validation.
    Not ANSI-SQL-expressible (no DEFLATE scalar in DuckDB), so the bar is
    this differential rather than a driver oracle row."""
    import zlib

    import pytest
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR_ORACLE
    from mega_data_factory_spark.operators.refiners import CompressionRatioRefiner
    from mega_data_factory_spark.registry import OPERATORS
    from mega_data_factory_spark.session import load_tables

    import hashlib

    planted = [
        (900101, "buy now " * 200),  # boilerplate -> low tail
        # high-entropy tail must be NON-repeating (a repeated base64 block
        # deflates like boilerplate): distinct hex digests, ~4 bits/char
        (900102, "".join(hashlib.sha256(str(i).encode()).hexdigest() for i in range(40))),
        (900103, None),
        (900104, "   "),
        (900105, "Ünïcòdé prose — naïve café résumé. " * 8),
    ]
    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"].select("doc_id", "text")
    df = docs.unionByName(spark.createDataFrame(planted, "doc_id long, text string"))
    out = CompressionRatioRefiner(level=6).apply(df)
    got = {r.doc_id: r.compression_ratio for r in out.collect()}
    for r in df.collect():
        if r.text is None or not r.text.encode("utf-8").strip():
            assert got[r.doc_id] is None, r.doc_id
        else:
            b = r.text.encode("utf-8")
            assert got[r.doc_id] == pytest.approx(round(len(zlib.compress(b, 6)) / len(b), 6)), r.doc_id
    # the tails separate: boilerplate well below the noise block
    assert got[900101] < 0.1 < got[900102]
    # one Arrow crossing, no row-wise Python (single-source plan: over a
    # union, PushProjectionThroughUnion legitimately clones the projection
    # into each branch — disjoint rows, not double work)
    plan = CompressionRatioRefiner().apply(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in plan
    # YAML path + param validation
    op = OPERATORS.create("CompressionRatioRefiner", {"level": 2, "out_col": "cr"})
    assert "cr" in op.apply(docs.limit(5)).columns
    with pytest.raises(ValueError, match="level"):
        CompressionRatioRefiner(level=0)


def test_compression_ratio_filters_in_pipeline(spark, tmp_path):
    """The published composition: ratio refiner + NumericRangeFilter cuts
    both tails through the config-driven pipeline, rejected rows carrying
    the filter's name."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    rows = [
        (1, "A perfectly ordinary prose sentence about data pipelines and their joins. " * 4),
        (2, "spam spam spam spam " * 150),               # low tail
        (3, "aQx9zK3mPv8TnR5wYb2Lc7Jd4Fg6Hs1N" * 50),    # high tail
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView("cr_in")
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "cr_cut",
                "id_col": "doc_id",
                "source": {"table": "cr_in"},
                "stages": [
                    {"name": "quality", "operators": [
                        {"name": "CompressionRatioRefiner", "params": {"level": 6}},
                        {"name": "NumericRangeFilter",
                         "params": {"column": "compression_ratio", "lo": 0.1, "hi": 0.75}},
                    ]},
                ],
            }
        }
    )
    cfg.sink = SinkConfig(path=str(tmp_path / "out"))
    cfg.rejected_sink = SinkConfig(path=str(tmp_path / "rej"))
    Pipeline(cfg).run(spark)
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    rej = spark.read.parquet(str(tmp_path / "rej"))
    assert kept == {1}
    assert {r.doc_id for r in rej.collect()} == {2, 3}
    assert set(r.operator for r in rej.select("operator").collect()) == {"NumericRangeFilter"}


def test_gopher_quality_matches_oracle(spark):
    """Gopher §A1.1 quality signals + the all-rules filter verdict,
    mirrored token-for-token in DuckDB over the real corpus plus the
    planted rule-tripping rows (bullet lists, ellipsis spam, hash noise,
    stopword-free text, NULL/blank, and one row per FILTER rule) -- now a
    registered driver query (plans/curation.py gopher_quality)."""
    assert_query_matches_oracle(spark, "gopher_quality")


def test_gopher_quality_filter_rules(spark, tmp_path):
    """Each published rule cuts exactly the page planted to trip it; the
    survivor is ordinary prose; NULL text fails; thresholds are knobs; the
    refiner+filter composition runs through the config-driven pipeline."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    prose = ("the quick brown fox jumps over that lazy dog with style and grace " * 8).strip()
    rows = [
        (1, prose),                                            # survives
        (2, "too few words to have any chance here"),          # word count < 50
        (3, ("a " * 120).strip()),                             # mean word len < 3 (and stopword-poor)
        (4, prose + " " + "#tag " * 40),                       # hash ratio > 0.1
        (5, "\n".join(f"• {prose[:40]}" for _ in range(10))),  # bullets > 90%
        (6, "\n".join([prose] + [f"{prose[:30]}..." for _ in range(9)])),  # ellipsis lines > 30%
        (7, ("zz9 " * 30 + prose.replace("the", "zz1").replace("that", "zz2").replace("with", "zz3"))),  # stopwords < 2
        (8, None),                                             # NULL fails
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView("gq_in")
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "gopher_cut",
                "id_col": "doc_id",
                "source": {"table": "gq_in"},
                "stages": [
                    {"name": "quality", "operators": [
                        {"name": "GopherQualityRefiner"},
                        {"name": "GopherQualityFilter"},
                    ]},
                ],
            }
        }
    )
    cfg.sink = SinkConfig(path=str(tmp_path / "out"))
    cfg.rejected_sink = SinkConfig(path=str(tmp_path / "rej"))
    Pipeline(cfg).run(spark)
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert kept == {1}
    rej = spark.read.parquet(str(tmp_path / "rej"))
    assert {r.doc_id for r in rej.collect()} == {2, 3, 4, 5, 6, 7, 8}
    assert set(r.operator for r in rej.select("operator").collect()) == {"GopherQualityFilter"}
    # thresholds are knobs: loosening the word floor admits the short page
    from mega_data_factory_spark.operators.filters import GopherQualityFilter
    from mega_data_factory_spark.operators.refiners import GopherQualityRefiner

    df = GopherQualityRefiner().apply(spark.createDataFrame(rows[:2], "doc_id long, text string"))
    loose = GopherQualityFilter(min_words=5).apply(df)
    assert {r.doc_id for r in loose.collect()} == {1, 2}


def test_word_occurrences_expr_parity(spark):
    """The round-12 single-expr fast path of word_occurrences must produce
    the same counts as the composed-Column fallback for every class of
    word (plain, regex metacharacters, quotes, backslashes, unicode) and
    for NULL/empty text — the fast path only changes how the expression
    is BUILT (one parsed expr vs five py4j calls), never its value."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.functions.text import word_occurrences

    rows = [
        (0, "the cat and the hat"),
        (1, "a.b matches a.b but not axb"),
        (2, "it's don't o'clock 'quoted'"),
        (3, "back\\slash c++ [set] (paren)"),
        (4, "Tür tür TÜR"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    words = ["the", "a.b", "don't", "c++", "[set]", "back\\slash", "tür", "'quoted'"]
    for w in words:
        fast = [r["n"] for r in df.select(word_occurrences("text", w).alias("n")).orderBy("id").collect()]
        # the Column path (fallback) — force it by passing a Column
        slow = [
            r["n"]
            for r in df.select(word_occurrences(F.col("text"), w).alias("n")).orderBy("id").collect()
        ]
        assert fast == slow, f"expr/Column divergence for word {w!r}: {fast} vs {slow}"
    # a backticked column name must take the fallback and still work
    df2 = df.withColumnRenamed("text", "te`xt")
    n = df2.select(word_occurrences(F.col("`te``xt`"), "the").alias("n")).count()
    assert n == 7


def test_word_occurrences_matches_duckdb_mirror(spark):
    """Spark's word_occurrences and the DuckDB mirror (plans/curation._wc,
    RE2's ASCII \\b) count the same text identically — including where a
    non-ASCII letter touches the word ('éla la': Java's \\b on JDK 17 sees
    no boundary inside 'éla', RE2 sees one before 'la') and for words
    whose edges are not word characters ('c++' needs a word character
    beside it, as \\b means there)."""
    import duckdb

    from mega_data_factory_spark.functions.text import word_occurrences
    from mega_data_factory_spark.plans.curation import _wc

    rows = [
        (0, "éla la"),
        (1, "thé the"),
        (2, "lá la"),
        (3, "the cat and the hat la"),
        (4, "a.b matches a.b but not axb"),
        (5, "back\\slash c++ c++x xc++ [set] (paren)"),
        (6, "Tür tür TÜR tür_ la_"),
        (7, ""),
        (8, None),
    ]
    words = ["la", "the", "a.b", "c++", "[set]", "back\\slash", "tür", "und"]
    df = spark.createDataFrame(rows, "id long, text string")
    got = df.select("id", *[word_occurrences("text", w).alias(f"w{i}") for i, w in enumerate(words)])
    spark_rows = sorted(tuple(r) for r in got.collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cols = ", ".join(f"{_wc('text', w)} AS w{i}" for i, w in enumerate(words))
    duck_rows = sorted(tuple(r) for r in con.execute(f"SELECT id, {cols} FROM t").fetchall())
    assert spark_rows == duck_rows
    # the non-ASCII neighbours of the bug report, spelled out
    by_id = {r[0]: r for r in spark_rows}
    assert (by_id[0][1], by_id[1][2], by_id[2][1]) == (2, 1, 1)
