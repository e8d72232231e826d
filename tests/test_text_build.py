"""The text operators that tokenize each document once
(text.repetition_features, dedup.span_duplicates, text.stopword_hits):
equal rows against a Column-API build that tokenizes inside the lambda
(the operators' earlier construction), on edge documents, for text
column names that need quoting, in both string-literal parser modes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark.operators import dedup, text
from feature_store_healthcare_spark.operators.dedup import normalize_text
from feature_store_healthcare_spark.sqlgen import ident

DOCS = [
    (1, "buy now buy now buy now buy now buy now"),
    (2, "x y x y z w z w"),  # "x y" and "z w" tie at 2: the greater wins
    (3, "a b c d"),  # every bigram once: a 3-way tie
    (4, "Word"),  # one token
    (5, None),
    (6, None),
    (7, ""),
    (8, " \t "),
    (9, "short shared span"),  # fewer tokens than span_tokens …
    (10, "short  SHARED span"),  # … and the same span in a second doc
    (11, "the cat and the dog of a house is in the hall"),
    (12, "der hund und die katze ist nicht da"),
    (13, "la casa de la abuela es grande y que"),
    (14, "le chat et les chiens est un une"),
    (15, "我 的 猫 是 在 这"),
    (16, "one two three four five six seven eight nine ten eleven twelve thirteen"),
    (17, "zero one two three four five six seven eight nine ten eleven twelve"),
]
NAMES = ["my text", "i", "a`b"]
ID = "x"  # the bigram scan's lambda variable name, unprefixed


def _col(c):
    return F.col(ident(c))


def _column_repetition(df, id_col, text_col, dup_token_cut=0.7, top_bigram_cut=0.18,
                       min_tokens_for_bigram_rule=4):
    """repetition_features built through the Column API, the tokenizer
    inside the bigram lambda."""
    toks = F.split(normalize_text(_col(text_col)), " ")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, 2), " "),
    )
    zero = F.lit(0).cast("bigint")
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best_cnt"),
        F.lit("").alias("best"),
    )

    def merge(acc, x):
        run2 = F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(
            F.lit(1).cast("bigint")
        )
        better = (run2 > acc["best_cnt"]) | ((run2 == acc["best_cnt"]) & (x > acc["best"]))
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.when(better, run2).otherwise(acc["best_cnt"]).alias("best_cnt"),
            F.when(better, x).otherwise(acc["best"]).alias("best"),
        )

    top = F.aggregate(F.array_sort(bigrams), acc0, merge)
    return (
        df.select(
            _col(id_col),
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            top["best"].alias("top_bigram"),
            top["best_cnt"].alias("top_bigram_count"),
            (top["best_cnt"] / F.size(bigrams)).alias("top_bigram_frac"),
        )
        .withColumn(
            "dup_token_frac",
            (F.col("n_tokens") - F.col("n_distinct_tokens")) / F.col("n_tokens"),
        )
        .select(
            _col(id_col), "n_tokens", "n_distinct_tokens", "dup_token_frac",
            "top_bigram", "top_bigram_count", "top_bigram_frac",
        )
        .withColumn(
            "is_repetitive",
            (F.col("dup_token_frac") > dup_token_cut)
            | (
                (F.col("n_tokens") >= min_tokens_for_bigram_rule)
                & (F.col("top_bigram_frac") > top_bigram_cut)
            ),
        )
    )


def _column_spans(df, id_col, text_col, span_tokens=12):
    """span_duplicates built through the Column API, the tokenizer inside
    the span lambda; NULL text gives no span."""
    toks = F.split(normalize_text(_col(text_col)), " ")
    spans = F.when(toks.isNotNull(), F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - span_tokens, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, span_tokens), " "),
    ))
    long = df.select(_col(id_col), F.explode(spans).alias("span"))
    return (
        long.groupBy(F.md5("span").alias("span_hash"))
        .agg(
            F.countDistinct(_col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _column_stopword_hits(col, words):
    """stopword_hits through a filter lambda over the word list, the
    tokenizer inside it."""
    toks = F.array_distinct(F.split(normalize_text(col), " "))
    hits = F.filter(F.array(*[F.lit(w) for w in words]), lambda w: F.array_contains(toks, w))
    return F.size(hits)


@pytest.fixture(params=["false", "true"], ids=["plain", "escaped"])
def parser_mode(spark, request):
    key = "spark.sql.parser.escapedStringLiterals"
    prior = spark.conf.get(key, "false")
    spark.conf.set(key, request.param)
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def _docs(spark, name):
    return spark.createDataFrame(DOCS, f"{ident(ID)} long, {ident(name)} string")


@pytest.mark.parametrize("name", NAMES)
def test_repetition_features_rows_match_column_build(spark, parser_mode, name):
    docs = _docs(spark, name)
    for kw in ({}, dict(dup_token_cut=0.2, top_bigram_cut=0.5, min_tokens_for_bigram_rule=1)):
        got = text.repetition_features(docs, ID, name, **kw)
        ref = _column_repetition(docs, ID, name, **kw)
        assert got.schema == ref.schema
        assert sorted(got.collect(), key=str) == sorted(ref.collect(), key=str)
    rows = {r[ID]: r for r in got.collect()}
    assert (rows[2].top_bigram, rows[2].top_bigram_count) == ("z w", 2)
    assert (rows[3].top_bigram, rows[3].top_bigram_count) == ("c d", 1)
    assert (rows[4].n_tokens, rows[4].top_bigram, rows[4].top_bigram_frac) == (1, "word", 1.0)
    assert rows[5].top_bigram is None and rows[7].top_bigram == rows[8].top_bigram == ""


@pytest.mark.parametrize("name", NAMES)
def test_span_duplicates_rows_match_column_build(spark, parser_mode, name):
    docs = _docs(spark, name)
    for n in (12, 3, 1):
        got = dedup.span_duplicates(docs, ID, name, span_tokens=n)
        ref = _column_spans(docs, ID, name, span_tokens=n)
        assert got.schema == ref.schema
        assert sorted(got.collect(), key=str) == sorted(ref.collect(), key=str)
    short = dedup.span_duplicates(docs, ID, name, span_tokens=12).collect()
    assert any(r.n_docs == 2 and r.n_occurrences == 2 for r in short)  # docs 9 and 10


def test_span_duplicates_null_text_gives_no_row(spark):
    """Two NULL-text docs share no span: no NULL ``span_hash`` row."""
    docs = spark.createDataFrame([(1, None), (2, None), (3, "a b")], "id long, t string")
    assert dedup.span_duplicates(docs, "id", "t", span_tokens=2).collect() == []


@pytest.mark.parametrize("name", NAMES)
def test_stopword_hits_rows_match_column_build(spark, parser_mode, name, monkeypatch):
    """lang_id and quality_features, which count stopwords, give the same
    rows as with the lambda count (no word list has a duplicate)."""
    docs = _docs(spark, name)
    got_lang = docs.select(ID, text.lang_id(_col(name)).alias("lang"))
    got_q = text.quality_features(docs, ID, name)
    got = (sorted(got_lang.collect()), sorted(got_q.collect(), key=str))
    with monkeypatch.context() as m:
        m.setattr(text, "stopword_hits", _column_stopword_hits)
        ref_lang = docs.select(ID, text.lang_id(_col(name)).alias("lang"))
        ref_q = text.quality_features(docs, ID, name)
        ref = (sorted(ref_lang.collect()), sorted(ref_q.collect(), key=str))
    assert got == ref
    langs = dict(got[0])
    assert [langs[i] for i in (11, 12, 13, 14, 15)] == ["en", "de", "es", "fr", "zh"]
    assert langs[5] == langs[7] == "und"


def test_stopword_hits_counts_a_listed_word_once(spark):
    """Set semantics: a word listed twice counts once (the lambda count
    counted it per listing); NULL text and an empty list have 0 hits."""
    docs = spark.createDataFrame([(1, "The cat and the hat"), (2, None)], "id long, t string")
    words = ["the", "the", "hat", "dog"]
    got = dict(docs.select("id", text.stopword_hits(F.col("t"), words)).collect())
    assert got == {1: 2, 2: 0}
    ref = dict(docs.select("id", _column_stopword_hits(F.col("t"), words)).collect())
    assert ref == {1: 3, 2: 0}
    assert docs.select(text.stopword_hits(F.col("t"), [])).first()[0] == 0
