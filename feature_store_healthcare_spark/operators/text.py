"""Text-analysis operators over document corpora (SURVEY.md OP-51;
BASELINE.json:6).

Language ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + a BPE-ish regex estimate), and document fingerprinting —
each as built-in column expressions (no Python UDF) over arbitrarily
large corpora.

Tokenize first, once per document.  Higher-order functions
(``transform``, ``aggregate``, ``filter``) are interpreted, not
generated: Spark evaluates a lambda body once per array element and
hoists nothing out of it, so a tokenizer captured in a lambda
re-tokenizes the whole document per element.  Project the tokens into a
column first, and reference that column at least twice in the next
projection: Catalyst's ``CollapseProject`` folds a column referenced only
once back into its consumer, lambda included.  Where a lambda would
reference the tokens just once, use a lambda-free array function instead
(``stopword_hits``).  ``tests/test_plans.py::test_no_tokenizer_inside_lambda``
holds the text queries to this.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_store_healthcare_spark.caching import release_local_checkpoint
from feature_store_healthcare_spark.operators.dedup import ngram_sql, normalize_text
from feature_store_healthcare_spark.sqlgen import double_lit, ident, string_lit, var

# Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une"],
    "zh": ["的", "了", "是", "在", "我", "有", "他", "这"],
}


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(normalize_text(c), " "))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars (non-alnum, non-underscore, non-whitespace) per
    text char — THE quality-gate ratio.  One definition shared by
    `text_quality_scores`, the curation pipeline's gates and the learned
    quality filter's features (one fix site; the DuckDB twin is the
    `regexp_extract_all`/`greatest` form in their oracles)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[^0-9a-zA-Z_\s]")) / F.greatest(
        F.length(c), F.lit(1)
    )


def digit_ratio(text: Column | str) -> Column:
    """Digit chars per text char — `punct_ratio`'s sibling gate."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[0-9]")) / F.greatest(F.length(c), F.lit(1))


def bpe_ish_token_estimate(text: Column | str) -> Column:
    """BPE-ish subword-count estimate: word pieces + punctuation marks,
    counted with a single regexp (≈ GPT-style ``\\w+|[^\\w\\s]`` pre-token
    split, each word then ~len/4 subwords, minimum 1)."""
    c = F.col(text) if isinstance(text, str) else text
    words = F.regexp_count(c, F.lit(r"\w+"))
    punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    chars = F.length(F.regexp_replace(c, r"\s", ""))
    # blend: one token per punctuation mark, ~¼ of word characters.
    return F.greatest(words, (chars / F.lit(4)).cast("long")) + punct


def stopword_hits(text: Column | str, words: list[str]) -> Column:
    """Number of the given stopwords present (set semantics) in the text:
    a word listed twice counts once; NULL text has 0 hits."""
    toks = F.coalesce(F.split(normalize_text(text), " "), F.array().cast("array<string>"))
    listed = F.array(*[F.lit(w) for w in dict.fromkeys(words)])
    return F.size(F.array_intersect(listed, toks))


def lang_id(text: Column | str, stopwords: dict[str, list[str]] | None = None) -> Column:
    """Language-ID heuristic: argmax over per-language stopword hit counts;
    'und' (undetermined) when no list scores > 0.  Deterministic tie-break:
    lexicographically smallest language code wins."""
    stopwords = stopwords or LANG_STOPWORDS
    codes = sorted(stopwords)
    scored = F.array(
        *[
            F.struct(
                stopword_hits(text, stopwords[code]).alias("score"),
                # rank inverts code order so struct-max ties pick the
                # lexicographically smallest code
                F.lit(-i).alias("rank"),
                F.lit(code).alias("code"),
            )
            for i, code in enumerate(codes)
        ]
    )
    best = F.array_max(scored)
    return F.when(best["score"] > 0, best["code"]).otherwise(F.lit("und"))


def quality_features(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document quality signals: n_tokens, n_chars, mean token length,
    punctuation ratio, digit ratio, uppercase ratio, stopword ratio (en),
    and a composite [0,1] quality score.

    The score prefers mid-length documents with plausible word shape — the
    standard cheap pre-filter in LLM data pipelines.
    """
    c = df[ident(text_col)]
    n_tokens = token_count(c).alias("n_tokens")
    n_chars = F.length(c).alias("n_chars_measured")
    out = df.select(
        df[ident(id_col)],
        n_tokens,
        n_chars,
        (F.length(F.regexp_replace(c, r"\s", "")) / token_count(c))
        .alias("mean_token_len"),
        (F.regexp_count(c, F.lit(r"[^\w\s]")) / F.greatest(F.length(c), F.lit(1)))
        .alias("punct_ratio"),
        (F.regexp_count(c, F.lit(r"[0-9]")) / F.greatest(F.length(c), F.lit(1)))
        .alias("digit_ratio"),
        (F.regexp_count(c, F.lit(r"[A-Z]")) / F.greatest(F.length(c), F.lit(1)))
        .alias("upper_ratio"),
        (
            stopword_hits(c, LANG_STOPWORDS["en"])
            / F.greatest(F.size(F.array_distinct(F.split(normalize_text(c), " "))), F.lit(1))
        ).alias("stopword_ratio"),
    )
    length_score = F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
    shape_score = F.when(
        (F.col("mean_token_len") >= 2) & (F.col("mean_token_len") <= 12), F.lit(1.0)
    ).otherwise(F.lit(0.3))
    noise_penalty = F.lit(1.0) - F.least(
        F.col("punct_ratio") + F.col("digit_ratio"), F.lit(1.0)
    )
    return out.withColumn(
        "quality_score", length_score * shape_score * noise_penalty
    )


def repetition_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dup_token_cut: float = 0.7,
    top_bigram_cut: float = 0.18,
    min_tokens_for_bigram_rule: int = 4,
) -> DataFrame:
    """Gopher-style repetition signals per document — the standard filters
    for machine-generated / boilerplate text in pre-training corpora (Rae
    et al. 2021 §A1.1): fraction of repeated tokens and the share of the
    single most-frequent word bigram.

    Output: (id_col, n_tokens, n_distinct_tokens, dup_token_frac,
    top_bigram, top_bigram_count, top_bigram_frac, is_repetitive).

    Deterministic: the top bigram breaks count ties by the
    lexicographically greatest bigram.  The whole operator is in-row
    array expressions — the bigram mode is found by sorting the per-doc
    bigram array and scanning runs with one ``aggregate`` lambda, so
    nothing shuffles (the explode → groupBy → argmax-join formulation
    shuffles every bigram of every document twice).  Tokens, bigrams and
    the scan result are each projected once and referenced at least
    twice downstream, so none is folded back into a lambda (module
    docstring).
    """
    id_c = ident(id_col)
    toks, bigrams, top = ident("__sg_tokens"), ident("__sg_bigrams"), ident("__sg_top")
    acc, x = var("acc"), var("x")
    # prev seeds NULL (typed) so no real bigram — including the empty-string
    # bigram of an empty/whitespace-only doc — can ever equal the seed; the
    # first element always takes the run=1 branch (NULL = x is NULL→false).
    # best seeds NULL too: the bigram array is never empty, so the first
    # element always replaces it, and the seed's type must admit the NULL
    # bigram of a NULL-text doc once the struct is projected.
    run2 = f"CASE WHEN {x} = {acc}.prev THEN {acc}.run + 1 ELSE CAST(1 AS BIGINT) END"
    better = (
        f"(({run2}) > {acc}.best_cnt OR "
        f"(({run2}) = {acc}.best_cnt AND {x} > {acc}.best))"
    )
    scan_sql = (
        f"aggregate(array_sort({bigrams}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), "
        "'best_cnt', CAST(0 AS BIGINT), 'best', CAST(NULL AS STRING)), "
        f"({acc}, {x}) -> named_struct('prev', {x}, 'run', {run2}, "
        f"'best_cnt', CASE WHEN {better} THEN {run2} ELSE {acc}.best_cnt END, "
        f"'best', CASE WHEN {better} THEN {x} ELSE {acc}.best END))"
    )
    dup = "(`n_tokens` - `n_distinct_tokens`) / `n_tokens`"
    frac = f"{top}.best_cnt / size({bigrams})"
    return (
        df.select(
            df[id_c], F.split(normalize_text(df[ident(text_col)]), " ").alias("__sg_tokens")
        )
        .selectExpr(
            id_c,
            f"size({toks}) AS `n_tokens`",
            f"size(array_distinct({toks})) AS `n_distinct_tokens`",
            # dedup.shingles' bigrams: a doc shorter than 2 tokens yields
            # one short bigram — kept, as in the oracle
            f"{ngram_sql('__sg_tokens', 2)} AS {bigrams}",
        )
        .selectExpr(
            id_c, "`n_tokens`", "`n_distinct_tokens`", bigrams, f"{scan_sql} AS {top}"
        )
        .selectExpr(
            id_c,
            "`n_tokens`",
            "`n_distinct_tokens`",
            f"{dup} AS `dup_token_frac`",
            f"{top}.best AS `top_bigram`",
            f"{top}.best_cnt AS `top_bigram_count`",
            f"{frac} AS `top_bigram_frac`",
            f"{dup} > {double_lit(dup_token_cut)} OR (`n_tokens` >= "
            f"{int(min_tokens_for_bigram_rule)} AND {frac} > {double_lit(top_bigram_cut)}) "
            "AS `is_repetitive`",
        )
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text —
    the exact-dedup key that survives whitespace/case jitter."""
    return F.md5(normalize_text(text))


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        fingerprint(text_col).alias("fingerprint"),
        F.length(normalize_text(text_col)).alias("norm_len"),
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str, top_k: int = 20
) -> DataFrame:
    """The first step of BPE tokenizer training: count adjacent CHARACTER
    pairs inside words across the corpus and rank the top merge
    candidates (the pair a BPE trainer would merge next).

    One token explode + one in-word pair explode + a partial-aggregatable
    count; the top-k cut is a TakeOrderedAndProject-shaped sort-limit on
    the tiny pair table.  Deterministic: ties rank by the pair string.
    Output: (pair, cnt, rank).
    """
    words = df.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    # sort-limit FIRST (TakeOrderedAndProject: per-partition top-k heaps,
    # no single-partition sort of the full pair table — round 13: the
    # implementation previously windowed the whole table, contradicting
    # this cut's design; same vocab_top_coverage pattern), THEN rank the
    # k survivors.  The total order (cnt desc, pair) is deterministic, so
    # limit-then-rank equals rank-then-filter exactly.
    head = counts.orderBy(F.col("cnt").desc(), F.col("pair")).limit(top_k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return head.withColumn("rank", F.row_number().over(w))


def _merge_pair_fold_sql(syms_sql: str, a: str, b: str) -> str:
    """SQL text applying merge rule ``(a, b) -> a+b`` to the symbol-array
    expression ``syms_sql``, greedy left-to-right and non-overlapping
    (``("a","a")`` on ``aaa`` yields ``[aa, a]``) — the ONE JVM-side
    ``aggregate`` fold shared by :func:`bpe_train` (per training round)
    and :func:`bpe_encode` (per rule pass), so the encoder reproduces the
    trainer's segmentation by construction.  No Python UDF: the fold is
    a higher-order function over the symbol array.  Text, so a chain of
    rules nests into one parse instead of dozens of py4j round trips per
    rule."""
    la, lb = string_lit(a), string_lit(b)
    acc, x = var("acc"), var("x")
    return (
        f"aggregate({syms_sql}, cast(array() as array<string>), ({acc}, {x}) -> "
        f"CASE WHEN size({acc}) > 0 AND element_at({acc}, -1) = {la} "
        f"AND {x} = {lb} "
        f"THEN concat(slice({acc}, 1, size({acc}) - 1), "
        f"array(concat(element_at({acc}, -1), {x}))) "
        f"ELSE concat({acc}, array({x})) END)"
    )


def _char_syms(col: str) -> "F.Column":
    """Word column ``col`` as its character-symbol array — round 0 of
    any BPE state."""
    c, i = ident(col), var("i")
    return F.expr(f"transform(sequence(1, length({c})), {i} -> substr({c}, {i}, 1))")


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 8) -> DataFrame:
    """OP-51 completion (round-8 VERDICT #6): ITERATIVE BPE tokenizer
    induction — the real training loop, not just
    :func:`bpe_merge_candidates`' single step.  Runs ``n_merges`` rounds
    of: count adjacent symbol pairs across the corpus vocabulary → pick
    the most frequent (ties: count desc, then lhs, then rhs — fully
    deterministic) → merge that pair greedily left-to-right in every
    word.  Returns the learned merge table
    ``(step, lhs, rhs, merged, pair_count)`` — the artifact a tokenizer
    ships.

    Spark shape (the pagerank discipline for bounded iterative ops):

    - The corpus is scanned ONCE: words → ``groupBy(word).count()``
      compresses to the vocabulary-with-frequencies table (the classic
      BPE trainer state — Sennrich et al., ACL 2016), localCheckpointed
      so no later round re-reads the corpus.
    - Each round is ONE shuffle: the in-word adjacent-pair explode is a
      projection, the pair count a partial-aggregatable groupBy over
      vocab-sized (not corpus-sized) input, and the winner a
      ``TakeOrdered``-style ``limit(1)`` collect of a single row.
    - The merge application is a JVM-side higher-order ``aggregate``
      fold over each word's symbol array (greedy left-to-right,
      non-overlapping — ``("a","a")`` on ``aaa`` yields ``[aa, a]``),
      no Python UDF; state is re-localCheckpointed per round so lineage
      stays flat and old round blobs release with their references.
    - Stops early (fewer than ``n_merges`` rows) when no pair remains.

    At 100 TB the state after round 0 is |vocab| rows regardless of
    corpus bytes — the loop's cost is decoupled from corpus size, which
    is exactly why real BPE trainers run on the word-frequency table.
    Reference: no tokenizer training exists in the reference repo; this
    is part of the driver-mandated LLM-pipeline surface (SURVEY §2
    OP-51).
    """
    spark = df.sparkSession
    words = (
        df.select(F.explode(F.split(normalize_text(text_col), " ")).alias("w"))
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("cnt", _char_syms("w").alias("syms"))
    )
    # lazy checkpoints: each round's pair-count COLLECT is the job that
    # materializes (and truncates) the round's re-segmented vocab state —
    # an eager checkpoint would run one extra full vocab-table job per
    # round just to write the same blocks the collect computes anyway.  One job per merge round instead of two; results
    # bit-identical (integer counts, same fold).
    state = words.localCheckpoint(eager=False)
    prev = None  # the checkpoint superseded by `state`, released once
    # `state` has materialized (the next collect) — its last reader
    rules: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            state.where(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), i -> "
                        "struct(element_at(syms, i) AS lhs, "
                        "element_at(syms, i + 1) AS rhs))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        # the collect just computed every `state` partition → the
        # previous round's vocab-table checkpoint has no readers left
        # (Dataset.unpersist never releases RDD-level checkpoint storage
        # — caching.release_local_checkpoint)
        if prev is not None:
            release_local_checkpoint(prev)
            prev = None
        if not top:
            break  # corpus fully merged before n_merges
        a, b, c = top[0].lhs, top[0].rhs, int(top[0].pair_count)
        rules.append((step, a, b, a + b, c))
        if step == n_merges:
            break  # the last rule needs no re-segmentation pass
        merged = F.expr(_merge_pair_fold_sql(ident("syms"), a, b))
        prev = state
        state = state.select("cnt", merged.alias("syms")).localCheckpoint(
            eager=False
        )
    out = spark.createDataFrame(
        rules, "step int, lhs string, rhs string, merged string, pair_count bigint"
    )
    # ride the driver-local rules along on the frame: bpe_encode(merges=
    # <trainer output>) would otherwise pay an orderBy+collect job on this
    # LocalRelation only to recover the very list the loop above built.  Plain Python attribute: any DERIVED frame loses
    # it (correct — a filtered/unioned merge table must be re-collected),
    # and the values are identical by construction (rules appends in
    # step order, the exact order the collect's orderBy("step") yields).
    out._fshs_bpe_rules = [(a, b) for (_s, a, b, _m, _c) in rules]
    return out


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges,
    rules_per_pass: int = 16,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Apply a learned BPE merge table to tokenize a corpus — the
    train→encode round trip :func:`bpe_train` left open (round-9 VERDICT
    #2): what an actual pipeline runs daily at 100 TB once the tokenizer
    is trained.  ``merges`` is the trainer's output DataFrame (applied in
    ``step`` order) or an iterable of ``(lhs, rhs)`` pairs.  Returns one
    row per document with ≥1 word:
    ``(id_col, tokens array<string>, n_words, n_tokens)``.

    Semantics: rules are applied as SEQUENTIAL greedy left-to-right
    passes in step order — the same :func:`_merge_pair_fold_sql` the trainer
    runs per round, so encoding the training corpus reproduces the
    trainer's final segmentation bit-for-bit (test-pinned).  (Canonical
    BPE encoders apply the lowest-rank pair present in each word
    repeatedly; the two agree except in pathological re-exposure cases a
    greedy trainer never produces on its own corpus.  Sequential passes
    are this engine's contract because they make train and encode share
    one fold.)

    Spark shape (the trainer's vocabulary-compression discipline, turned
    around):

    - The corpus is scanned ONCE into per-doc word positions
      (``posexplode``); the expensive per-word rule folds run over the
      DISTINCT-WORD table — encode cost scales with |vocab|, not corpus
      bytes, exactly like training.
    - Rules chain ``rules_per_pass`` folds per select (bounding codegen
      expression depth), with an eager ``localCheckpoint`` between
      passes so a 30k-rule production vocabulary is |vocab|-sized work
      per pass with flat lineage — never a corpus rescan.
    - The segmented vocabulary joins back to word occurrences on the
      word string.  ``broadcast_vocab=True`` (default) broadcasts it —
      the right plan whenever the distinct-word table fits an executor
      broadcast budget, and it sidesteps hot-word skew ("the" is in
      every partition) entirely.  At web-scale vocabularies (100M+
      distinct words) pass False: the shuffle join is vocab/corpus
      bucketable and AQE's skew-join splits the hot words.
    - Per-doc reassembly is one ``collect_list(struct(pos, toks))`` +
      ``array_sort`` + ``flatten`` — order restored from the stored
      position, no window, no second shuffle.

    Reference: no tokenizer exists in the reference repo; this is the
    driver-mandated LLM-pipeline surface (SURVEY §2 OP-51).
    """
    if rules_per_pass < 1:
        # the range step was guarded with max(1, ...) but the slice was
        # not: rules_per_pass=0 would silently apply NO rules (pure
        # char-level tokens, inflated fertility) and negatives a wrong
        # subset — fail loudly instead
        raise ValueError(f"bpe_encode: rules_per_pass must be >= 1, got {rules_per_pass}")
    if isinstance(merges, DataFrame):
        # the trainer's own output carries its rules driver-side — skip
        # the per-encode orderBy+collect job (values identical, see
        # bpe_train).  Any other merge-table frame is collected.
        rules = getattr(merges, "_fshs_bpe_rules", None)
        if rules is None:
            rules = [(r.lhs, r.rhs) for r in merges.orderBy("step").collect()]
    else:
        rules = [(a, b) for a, b in merges]

    doc_words = df.select(
        F.col(id_col),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias("pos", "w"),
    ).where(F.length("w") >= 1)

    seg = doc_words.select("w").distinct().select("w", _char_syms("w").alias("syms"))
    last_ck = None  # superseded pass checkpoints released eagerly
    for start in range(0, len(rules), rules_per_pass):
        # chain the pass's folds as ONE parsed SQL string (linear text
        # growth, one py4j call per pass instead of dozens per rule)
        col_sql = ident("syms")
        for a, b in rules[start : start + rules_per_pass]:
            col_sql = _merge_pair_fold_sql(col_sql, a, b)
        seg = seg.select("w", F.expr(col_sql).alias("syms"))
        if start + rules_per_pass < len(rules):
            seg = seg.localCheckpoint(eager=True)
            if last_ck is not None:
                release_local_checkpoint(last_ck)
            last_ck = seg

    vocab = F.broadcast(seg) if broadcast_vocab else seg
    ordered = F.flatten(
        F.expr("transform(array_sort(collect_list(struct(pos, syms))), s -> s.syms)")
    )
    return (
        doc_words.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            ordered.alias("tokens"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
    )


def vocab_coverage(df: DataFrame, text_col: str, top_k: int = 100) -> DataFrame:
    """Corpus vocabulary frequency table with cumulative coverage — the
    "how big must the vocab be" curve every tokenizer-training run starts
    from (and the Zipf sanity check on a new corpus dump).

    One token explode → one partial-aggregatable count (map-side combine
    collapses each partition to its distinct tokens before the shuffle, so
    the exchange carries ~|vocab| rows, not ~|corpus tokens|).  The top-k
    cut is ``orderBy().limit()`` → TakeOrderedAndProject — per-partition
    heaps, NOT a global single-partition window over the full vocab — and
    the rank/running-sum window then runs over only the k surviving rows.
    The grand total is a one-row broadcast.  The corpus is scanned once.

    Deterministic: rank ties break lexicographically; coverage fractions
    are exact integer ratios rounded to 6 decimals.  Output: (token, rank,
    cnt, frac, cum_frac) for the top_k tokens.
    """
    from pyspark.sql import Window

    toks = df.select(F.explode(F.split(normalize_text(text_col), " ")).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    head = counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(top_k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        head.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn("__cum", F.sum("cnt").over(wcum))
        .select(
            "token",
            "rank",
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 6).alias("frac"),
            F.round(F.col("__cum") / F.col("__total"), 6).alias("cum_frac"),
        )
    )


def hashed_tf(
    df: DataFrame, id_col: str, text_col: str, prefix_chars: int = 2
) -> DataFrame:
    """Feature hashing (the HashingTF trick) in pure SQL: each token maps
    to one of ``16^prefix_chars`` dimensions by its md5 prefix — no
    vocabulary build, no fit step, fixed output width at any corpus size,
    and the hex-string dimension label is reproducible in any engine with
    md5 (no hex→int conversion, which engines spell differently).

    Output is the long/sparse form (id, dim, tf, tf_l2) — the right
    representation at scale (a 100 TB corpus materializes only occupied
    cells) and what a sparse linear model or an inverted index consumes.
    One token explode → one partial-aggregatable count → one per-doc
    window for the L2 norm.
    """
    # r15 tried-and-rejected: an all-in-row shape (array_sort the per-doc
    # dim array, run-length-encode, fold the norm, explode the finished
    # cells — zero exchanges at any scale) was built and measured
    # CATASTROPHICALLY slower at sf0.1: the sorted array re-inlines into
    # every higher-order-function reference (CollapseProject duplicates
    # it into the per-element lambda bodies), so the sort re-runs per
    # element instead of per row.  The 2-exchange cell shuffle below
    # moves ≤16^prefix_chars partially-aggregated cells per document —
    # bounded and skew-free — and stays.
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__tok"),
    )
    tf = toks.groupBy(
        id_col, F.substring(F.md5("__tok"), 1, prefix_chars).alias("dim")
    ).agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy(id_col)
    norm = F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(w))
    return tf.withColumn("tf_l2", F.round(F.col("tf") / norm, 6))
