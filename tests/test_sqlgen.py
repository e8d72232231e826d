"""Generated SQL text (feature_store_healthcare_spark.sqlgen) under both
string-literal parser modes and with column names that need quoting or
collide with lambda variable names."""

from __future__ import annotations

import hashlib
import math
import re
import statistics

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from test_maintenance import hist_reference

from feature_store_healthcare_spark import maintenance
from feature_store_healthcare_spark.operators import dedup, drift, similarity, text
from feature_store_healthcare_spark.sqlgen import ident, table_ident

DOCS = [(1, "a   b\tc d e"), (2, "It's a \\ back-slash: a\\b  it's"), (3, None)]


def _ngrams(s: str, n: int) -> set[str]:
    toks = re.sub(r"\s+", " ", s.lower()).strip().split(" ")
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def _simhash16(s: str) -> int:
    """16-bit portable SimHash: bit i is set iff more tokens have bit i
    of their md5-derived hash set than clear."""
    toks = re.sub(r"\s+", " ", s.lower()).strip().split(" ")
    hs = [int(hashlib.md5(t.encode()).hexdigest()[24:32], 16) for t in toks]
    return sum(
        1 << i for i in range(16) if sum(1 if h >> i & 1 else -1 for h in hs) > 0
    )


def test_ident_quotes_any_name():
    assert ident("my col") == "`my col`"
    assert ident("a`b") == "`a``b`"


def test_table_ident_quotes_each_part():
    assert table_ident("db.t`x") == "`db`.`t``x`"
    assert table_ident("t") == "`t`"


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_generated_sql_parser_modes_and_awkward_names(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    prior = spark.conf.get(key, "false")
    spark.conf.set(key, escaped)
    try:
        for id_col, text_col in (("doc_id", "i"), ("doc_id", "my text"), ("doc`id", "a`b")):
            docs = spark.createDataFrame(
                DOCS,
                T.StructType(
                    [T.StructField(id_col, T.IntegerType()),
                     T.StructField(text_col, T.StringType())]
                ),
            )
            want = {d: _ngrams(s, 2) for d, s in DOCS if s is not None}
            got: dict[int, set[str]] = {}
            for r in dedup.shingles(docs, id_col, text_col, n=2).collect():
                got.setdefault(r[id_col], set()).add(r.shingle)
            assert got == want and want[1] == {"a b", "b c", "c d", "d e"}, text_col

            sig = dedup.minhash_signatures(
                docs, id_col, text_col, n=2, num_hashes=3, portable=True
            ).collect()
            want_sig = {
                d: tuple(
                    min(hashlib.md5(f"{h}:{g}".encode()).hexdigest()[:16] for g in gs)
                    for h in range(3)
                )
                for d, gs in want.items()
            }
            assert {r[id_col]: tuple(r[1:]) for r in sig} == want_sig, text_col

            sim = dedup.simhash_signatures(docs, id_col, text_col, bits=16, portable=True)
            assert {r[id_col]: r.simhash for r in sim.collect()} == {
                d: _simhash16(s) for d, s in DOCS if s is not None
            }, text_col

        vals = [(f"g{i % 2}", float(i * 7 % 23)) for i in range(40)]
        df = spark.createDataFrame(vals, "grp string, `my col` double")
        st = maintenance.incremental_agg(
            df, ["grp"], "my col", specs=["hist"], hist_lo=0.0, hist_hi=20.0,
            hist_bins=7,
        )
        fin = {r.grp: r for r in maintenance.finalize_agg_states(st, ["grp"]).collect()}
        for g in ("g0", "g1"):
            _, want_q = hist_reference(
                [v for k, v in vals if k == g], 0.0, 20.0, 7, (0.5, 0.95)
            )
            assert (fin[g].p50, fin[g].p95) == (want_q[0.5], want_q[0.95])

        labs = [("a", x) for x in (1.0, 2.0, 3.0, 4.0, 100.0)]
        labs += [("b", x) for x in (5.0, 5.0, 6.0, 8.0)]
        lab = spark.createDataFrame(labs, "k string, `lab value` double")
        out = {r.k: r for r in drift.robust_outliers(lab, ["k"], "lab value").collect()}
        for k in ("a", "b"):
            xs = [x for kk, x in labs if kk == k]
            med = statistics.median(xs)
            mad = statistics.median([abs(x - med) for x in xs])
            zs = [abs(0.6745 * (x - med) / mad) for x in xs]
            assert (out[k].median, out[k].mad) == (med, mad)
            assert out[k].n_outliers == sum(z > 3.5 for z in zs)
            assert out[k].max_abs_z == round(max(zs), 6)

        corpus = spark.createDataFrame([(1, "a\\b a\\b it's it's")], "doc_id int, text string")
        merges = text.bpe_train(corpus, "text", n_merges=4)
        assert [(r.lhs, r.rhs) for r in merges.collect()] == [
            ("'", "s"), ("\\", "b"), ("a", "\\b"), ("i", "t"),
        ]
        enc = text.bpe_encode(corpus, "doc_id", "text", merges).collect()[0]
        assert enc.tokens == ["a\\b", "a\\b", "it", "'s", "it", "'s"]

        vecs = spark.createDataFrame([([1.0, 2.0], [3.0, -4.0])],
                                     "`my a` array<double>, i array<double>")
        for dim in (None, 2):
            got_cos = vecs.select(similarity.cosine_similarity("my a", "i", dim=dim)).first()[0]
            assert got_cos == (3.0 - 8.0) / (math.sqrt(5.0) * math.sqrt(25.0))
    finally:
        spark.conf.set(key, prior)


@pytest.mark.parametrize("escaped", ["false", "true"])
@pytest.mark.parametrize("id_col", ["doc_id", "doc`id"])
def test_dedup_id_col_parser_modes_and_awkward_names(spark, escaped, id_col):
    """The dedup operators that take ``id_col`` resolve it through
    ``sqlgen.ident``: exact dedup, SimHash candidates, the Arrow MinHash
    LSH path and the cluster verdict work for an id named ``doc`id``."""
    key = "spark.sql.parser.escapedStringLiterals"
    prior = spark.conf.get(key, "false")
    spark.conf.set(key, escaped)
    docs = [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w"), (4, "a b c d f")]
    df = spark.createDataFrame(
        docs,
        T.StructType(
            [T.StructField(id_col, T.IntegerType()), T.StructField("my text", T.StringType())]
        ),
    )
    try:
        exact = dedup.exact_dedup_keep_min(df, ["my text"], id_col)
        assert {(r["my text"], r[id_col]) for r in exact.collect()} == {
            ("a b c d e", 1), ("x y z w", 3), ("a b c d f", 4),
        }

        sig = dedup.simhash_signatures(df, id_col, "my text", bits=16, portable=True)
        cand = dedup.simhash_candidates(sig, id_col, 16, max_hamming=2)
        sh = {d: _simhash16(s) for d, s in docs}
        want = {
            (a, b)
            for a in sh
            for b in sh
            if a < b and any((sh[a] >> 5 * c) & 31 == (sh[b] >> 5 * c) & 31 for c in range(3))
        }
        assert {(r.id_a, r.id_b) for r in cand.collect()} == want and (1, 2) in want

        pairs = dedup.minhash_lsh_pairs(
            df, id_col, "my text", n=2, num_hashes=8, bands=4, portable=False
        )
        assert (1, 2) in {(r.id_a, r.id_b) for r in pairs.collect()}
        verdict = dedup.cluster_survivors(df, pairs, id_col)
        got = {r[id_col]: (r.component, r.is_keeper) for r in verdict.collect()}
        assert got[1] == (1, True) and got[2] == (1, False) and got[3] == (3, True)
    finally:
        dedup.release_dedup_caches()
        spark.conf.set(key, prior)
