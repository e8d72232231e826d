"""Structural plan tests (SURVEY.md §4): the scale properties — pushdown,
pruning, broadcastability, bounded shuffle counts, codegen — asserted on the
actual physical plans so perf regressions fail fast and loudly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark import plans, queries as catalog
from feature_store_healthcare_spark.operators import retrieval
from feature_store_healthcare_spark.operators.pit import latest_per_key, point_in_time_join
from feature_store_healthcare_spark.sources import load_table


@pytest.fixture(scope="module")
def qs():
    return catalog.queries()


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir, qs):
    df = qs["q1_pricing_summary"](spark, sf_dir)
    pushed = plans.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    schemas = plans.scan_read_schemas(df)
    # 7 needed columns, not all 16 of lineitem
    assert schemas and all("l_orderkey" not in s for s in schemas), schemas
    assert all("l_comment" not in s for s in schemas), schemas
    assert plans.has_whole_stage_codegen(df)


_BOTH_KINDS = """\
AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[max(v#2)])
   +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=12]
      +- HashAggregate(keys=[k#1], functions=[partial_max(v#2)])
         +- BroadcastHashJoin [k#1], [k#3], Inner, BuildRight, false
            :- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=10]
            :  +- FileScan parquet [k#1,v#2]
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, string, false]),false), [plan_id=11]
               +- FileScan parquet [k#3]
"""


def test_count_exchanges_excludes_broadcasts(monkeypatch):
    """A hash broadcast's mode, ``HashedRelationBroadcastMode``, starts
    with the ``hash`` of a shuffle's partitioning; only the two shuffles
    count."""
    monkeypatch.setattr(plans, "_effective_plan", lambda df: _BOTH_KINDS)
    assert plans.count_exchanges(None) == 2


def test_lambda_bodies_balances_parentheses():
    """Each ``lambdafunction(...)`` up to its own closing parenthesis; a
    nested lambda is returned inside its parent and on its own."""
    plan = (
        "Project [transform(a#1, lambdafunction(upper(lambda x#2), lambda x#2, false)) AS u#3, "
        "aggregate(b#4, 0, lambdafunction((lambda acc#5 + size(filter(c#6, "
        "lambdafunction((lambda y#7 > 1), lambda y#7, false)))), lambda acc#5, "
        "lambda z#8, false), lambdafunction(lambda id#9, lambda id#9, false)) AS v#10]"
    )
    assert plans.lambda_bodies(plan) == [
        "lambdafunction(upper(lambda x#2), lambda x#2, false)",
        "lambdafunction((lambda acc#5 + size(filter(c#6, lambdafunction((lambda y#7 > 1), "
        "lambda y#7, false)))), lambda acc#5, lambda z#8, false)",
        "lambdafunction((lambda y#7 > 1), lambda y#7, false)",
        "lambdafunction(lambda id#9, lambda id#9, false)",
    ]
    assert plans.lambda_bodies("Project [a#1, split(b#2,  , -1) AS t#3]") == []


@pytest.mark.parametrize(
    "name",
    [
        "text_repetition_signals",
        "duplicate_span_report",
        "lang_id_confusion",
        "text_quality_scores",
        "corpus_curation_pipeline",
        "dedup_ngram_jaccard",
    ],
)
def test_no_tokenizer_inside_lambda(spark, sf_dir, qs, name):
    """A lambda body runs once per array element, so a tokenizer
    (``split`` of the ``regexp_replace``-normalized text) inside one
    re-tokenizes the whole document per token, span or stopword.  The
    optimized plan must tokenize outside every lambda."""
    key = "spark.sql.debug.maxToStringFields"
    prior = spark.conf.get(key, "25")
    spark.conf.set(key, "100000")  # print every field: none may hide a lambda
    try:
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set(key, prior)
    bodies = plans.lambda_bodies(plan)
    bad = [b for b in bodies if "split(" in b or "regexp_replace(" in b]
    assert not bad, bad


def test_q1_single_shuffle(spark, sf_dir, qs):
    # scan → partial agg → ONE exchange → final agg
    assert plans.count_exchanges(qs["q1_pricing_summary"](spark, sf_dir)) == 1


def test_q3_broadcasts_small_dimensions(spark, sf_dir, qs):
    df = qs["q3_shipping_priority"](spark, sf_dir)
    # customer (filtered) and orders join lineitem: AQE/static planner should
    # broadcast at least one small side rather than SMJ everything
    assert plans.count_broadcast_joins(df) >= 1


def test_topk_uses_take_ordered(spark, sf_dir, qs):
    assert plans.uses_take_ordered(qs["topk_orders"](spark, sf_dir))


def test_latest_per_key_maxby_is_one_shuffle(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    df = latest_per_key(ev, ["user_id"], "ts", tiebreak=["event_id"])
    assert plans.count_exchanges(df) == 1  # partial-agg + single hash exchange


def test_latest_per_key_window_strategy_costs_a_sort(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    df = latest_per_key(ev, ["user_id"], "ts", tiebreak=["event_id"], strategy="window")
    assert plans.count_exchanges(df) == 1
    assert "Sort" in plans.physical_plan(df, "simple")


def test_pit_join_bounded_shuffles(spark, sf_dir):
    """Flagship OP-16: equi-join + argmax agg.  At test scale the value
    side broadcasts, leaving one shuffle exchange (the aggregate's)."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    vals = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("value").alias("click_value"), "ts", "event_id"
    )
    df = point_in_time_join(
        spine, vals, on="user_id", spine_ts="ts", value_ts="ts",
        value_cols=["click_value"], tiebreak=["event_id"],
        spine_keys=["event_id"],
    )
    assert plans.count_exchanges(df) <= 1


def test_dedup_jaccard_broadcasts_not_smj(spark, sf_dir, qs):
    df = qs["dedup_ngram_jaccard"](spark, sf_dir)
    # sizes ride through the explode now — the pair self-join is the ONLY
    # join left, and it broadcasts its build side (skew-immune)
    assert plans.count_broadcast_joins(df) == 1
    assert plans.count_sort_merge_joins(df) == 0


def test_registry_lookup_is_broadcast(spark, sf_dir, qs):
    # acl_filtered_features resolves values against the (tiny) registry
    df = qs["acl_filtered_features"](spark, sf_dir)
    assert plans.count_sort_merge_joins(df) == 0


def test_metadata_stats_never_read_payload(spark, sf_dir, qs):
    """Multimodal stats must prune the binary content column... except the
    byte-size aggregate itself.  Frame sampling reads metadata only."""
    df = qs["multimodal_frame_sample"](spark, sf_dir)
    schemas = plans.scan_read_schemas(df)
    assert schemas and all("content" not in s for s in schemas)
    assert all("text" in s for s in schemas)  # only the meta source column


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join layout: orders and lineitem bucketed by order key →
    the join plan has ZERO shuffle exchanges (each task zips bucket i with
    bucket i), vs 2-3 for the unbucketed join."""
    from feature_store_healthcare_spark.stores import read_table, write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", "o_orderkey", 4, str(tmp_path / "orders_b"))
    write_bucketed(li, "lineitem_b", "l_orderkey", 4, str(tmp_path / "lineitem_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the shuffle-free SMJ/SHJ is visible
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            read_table(spark, "orders_b")
            .join(
                read_table(spark, "lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderkey")
            .agg(F.count("*").alias("n"))
        )
        # one exchange for the final groupBy... which also vanishes: the
        # join output is already distributed by the grouping key
        assert plans.count_exchanges(joined) == 0
        unbucketed = (
            orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .agg(F.count("*").alias("n"))
        )
        assert plans.count_exchanges(unbucketed) >= 2
        # same results either way
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, unbucketed.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_compact_bucketed_rewrite(spark, tmp_path):
    """Maintenance for append-grown bucketed tables (append_band_index's
    documented periodic rewrite): compaction collapses N files per bucket
    to ONE, keeps the catalog bucket spec (so co-located joins stay
    shuffle-free), returns the old location for cleanup, and never changes
    results."""
    import glob

    from feature_store_healthcare_spark.stores import (
        _bucket_spec,
        compact_bucketed,
        read_table,
        write_bucketed,
    )

    df = spark.range(200).selectExpr("id", "id % 50 as k")
    path1 = str(tmp_path / "cmp_v1")
    for i, mode in enumerate(["overwrite", "append", "append"]):
        write_bucketed(df, "cmp_b", "k", 4, path1, sort_col="id", mode=mode)
    assert len(glob.glob(path1 + "/part-*")) > 4  # append-grown
    before = sorted(map(tuple, read_table(spark, "cmp_b").collect()))
    try:
        old_loc = compact_bucketed(spark, "cmp_b", str(tmp_path / "cmp_v2"))
        assert old_loc.endswith("cmp_v1")
        files = glob.glob(str(tmp_path / "cmp_v2" / "part-*"))
        assert len(files) == 4  # one per bucket (50 keys fill all 4)
        cols, n, sort, loc = _bucket_spec(spark, "cmp_b")
        assert (cols, n, sort) == (["k"], 4, ["id"]) and loc.endswith("cmp_v2")
        after = sorted(map(tuple, read_table(spark, "cmp_b").collect()))
        assert before == after
        # a non-bucketed table is rejected, not silently rewritten
        spark.range(3).write.mode("overwrite").option(
            "path", str(tmp_path / "plain")
        ).saveAsTable("cmp_plain")
        with pytest.raises(ValueError, match="not a bucketed table"):
            compact_bucketed(spark, "cmp_plain", str(tmp_path / "plain2"))
    finally:
        spark.sql("DROP TABLE IF EXISTS cmp_b")
        spark.sql("DROP TABLE IF EXISTS cmp_b__compact")
        spark.sql("DROP TABLE IF EXISTS cmp_plain")


def test_compact_bucketed_guards_and_swap_window(spark, tmp_path):
    """ADVICE r6 #4 + VERDICT r7 ask #5: (a) compacting INTO the table's
    current location is refused (the overwrite would delete the files the
    compaction scan reads); (b) db-qualified names are quoted per part, so
    the tmp-table dance works inside a database; (c) a reader inside the
    non-atomic drop→rename window retries through it via read_table."""
    import threading
    import time as _time

    from pyspark.errors import AnalysisException

    from feature_store_healthcare_spark.stores import (
        compact_bucketed,
        read_table,
        write_bucketed,
    )

    df = spark.range(100).selectExpr("id", "id % 10 as k")
    try:
        # (a) same-path guard
        p1 = str(tmp_path / "same_v1")
        write_bucketed(df, "same_b", "k", 2, p1)
        with pytest.raises(ValueError, match="current \\n?location|current location"):
            compact_bucketed(spark, "same_b", p1)

        # (b) db-qualified table: `db`.`t` quoting end-to-end
        spark.sql("CREATE DATABASE IF NOT EXISTS cmpdb")
        pq = str(tmp_path / "q_v1")
        write_bucketed(df, "cmpdb.cmp_q", "k", 2, pq, mode="overwrite")
        write_bucketed(df, "cmpdb.cmp_q", "k", 2, pq, mode="append")
        old = compact_bucketed(spark, "cmpdb.cmp_q", str(tmp_path / "q_v2"))
        assert old.endswith("q_v1")
        assert read_table(spark, "cmpdb.cmp_q").count() == 200

        # (c) reader during the swap window: drop, hold, rename — the
        # default read_table outlasts the gap; swap_retry=False fails fast
        p2 = str(tmp_path / "swap_v1")
        write_bucketed(df, "swap_b", "k", 2, p2)
        write_bucketed(df, "swap_b__compact", "k", 2, str(tmp_path / "swap_v2"))
        dropped = threading.Event()

        def swapper():
            spark.sql("DROP TABLE `swap_b`")
            dropped.set()
            _time.sleep(0.6)  # hold the window open past ≥1 retry
            spark.sql("ALTER TABLE `swap_b__compact` RENAME TO `swap_b`")

        t = threading.Thread(target=swapper)
        t.start()
        assert dropped.wait(10)
        with pytest.raises(AnalysisException):
            read_table(spark, "swap_b", swap_retry=False)
        assert read_table(spark, "swap_b").count() == 100  # retried through
        t.join()

        # (d) the retry is scoped to TABLE_OR_VIEW_NOT_FOUND — a permanent
        # analysis error raises immediately instead of sleeping through 10
        # attempts (round-7 review finding #6)
        t0 = _time.monotonic()
        with pytest.raises(AnalysisException):
            read_table(spark, "not a valid.name")
        assert _time.monotonic() - t0 < 1.0  # no ~2.3 s retry loop
    finally:
        for tbl in ("same_b", "cmpdb.cmp_q", "cmpdb.cmp_q__compact",
                    "swap_b", "swap_b__compact"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql("DROP DATABASE IF EXISTS cmpdb")


def test_compaction_lease_excludes_second_writer(spark, tmp_path):
    """Round-9 VERDICT #4: compaction's whole-table swap is the one
    remaining single-writer surface (stats went append-only in round 9).
    The flock-backed lease turns "single writer by contract" into an
    enforced exclusion: a second compactor gets LeaseHeldError while the
    first HOLDS the kernel lock, a crashed holder's lock drops with its
    process (takeover is immediate, no TTL wait), and two live acquirers
    can never both win — including in one process, since flock conflicts
    per open file description."""
    import json
    import time as _time

    from feature_store_healthcare_spark import tableops
    from feature_store_healthcare_spark.stores import (
        compact_bucketed,
        read_table,
        write_bucketed,
    )
    from feature_store_healthcare_spark.tableops import (
        LeaseHeldError,
        acquire_compaction_lease,
        release_compaction_lease,
    )

    df = spark.range(100).selectExpr("id", "id % 10 as k")
    p1 = str(tmp_path / "lease_v1")
    try:
        write_bucketed(df, "lease_b", "k", 2, p1, mode="overwrite")
        write_bucketed(df, "lease_b", "k", 2, p1, mode="append")

        # writer A holds the lease → compact_bucketed (writer B) refuses
        lease, owner = acquire_compaction_lease(p1, owner="writer-a")
        with pytest.raises(LeaseHeldError, match="writer-a"):
            compact_bucketed(spark, "lease_b", str(tmp_path / "lease_v2"))
        # two live acquirers can never both win
        with pytest.raises(LeaseHeldError):
            acquire_compaction_lease(p1, owner="writer-b")
        # releasing with the wrong owner is a no-op (B can't free A's lease)
        release_compaction_lease(lease, "writer-b")
        with pytest.raises(LeaseHeldError):
            acquire_compaction_lease(p1, owner="writer-b")
        release_compaction_lease(lease, owner)

        # lease free → compaction proceeds and releases on exit
        old = compact_bucketed(spark, "lease_b", str(tmp_path / "lease_v2"))
        assert old.endswith("lease_v1")
        assert not os.path.exists(old.rstrip("/") + ".__compact_lease")
        assert read_table(spark, "lease_b").count() == 200

        # crashed holder: a leftover marker file with NO live kernel lock
        # (what a dead process leaves behind) does not block — takeover is
        # immediate, no TTL wait.  (The compacted table now lives at
        # lease_v2; the lease keys on it.)
        loc = str(tmp_path / "lease_v2")
        stale = loc + ".__compact_lease"
        with open(stale, "w") as f:
            json.dump({"owner": "crashed", "acquired_at": _time.time() - 10,
                       "ttl_sec": 1.0}, f)
        old2 = compact_bucketed(spark, "lease_b", str(tmp_path / "lease_v3"))
        assert old2.endswith("lease_v2")
        assert read_table(spark, "lease_b").count() == 200
        # a lease HELD by a live acquirer blocks — content alone never
        # could under the old marker protocol's races (an empty or
        # mid-write file read as stale, a fresh lease renamed away)
        loc3 = str(tmp_path / "lease_v3")
        lease3, owner3 = acquire_compaction_lease(loc3, owner="live-holder")
        with pytest.raises(LeaseHeldError, match="live-holder"):
            compact_bucketed(spark, "lease_b", str(tmp_path / "lease_v4"))
        # simulated crash: the fd closes (process death) without a
        # release — the kernel drops the lock, the marker file remains,
        # and the next compactor takes over at once
        fd3, _ = tableops._LEASE_FDS.pop(lease3)
        os.close(fd3)
        assert os.path.exists(lease3)
        old3 = compact_bucketed(spark, "lease_b", str(tmp_path / "lease_v4"))
        assert old3.endswith("lease_v3")
        assert read_table(spark, "lease_b").count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS lease_b")
        spark.sql("DROP TABLE IF EXISTS lease_b__compact")


def test_bucketed_pit_join_zero_exchange(spark, sf_dir, tmp_path):
    """SURVEY §4.2's last custom row: spine AND values bucketed on the
    entity key with the same bucket count → the whole PIT training join
    (equi-join + range predicate + argmax agg) runs with ZERO shuffle
    exchanges — the join zips bucket i with bucket i, and the aggregate's
    (entity, spine-key) grouping reuses the join's bucket distribution."""
    from feature_store_healthcare_spark.stores import read_table, write_bucketed

    ev = load_table(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    vals = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("value").alias("click_value"), "ts", "event_id"
    )
    write_bucketed(spine, "pit_spine_b", "user_id", 4, str(tmp_path / "spine_b"))
    write_bucketed(vals, "pit_vals_b", "user_id", 4, str(tmp_path / "vals_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        kw = dict(
            on="user_id", spine_ts="ts", value_ts="ts",
            value_cols=["click_value"], tiebreak=["event_id"],
            spine_keys=["event_id"],
        )
        bucketed = point_in_time_join(
            read_table(spark, "pit_spine_b"), read_table(spark, "pit_vals_b"), **kw
        )
        assert plans.count_exchanges(bucketed) == 0
        plain = point_in_time_join(spine, vals, **kw)
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS pit_spine_b")
        spark.sql("DROP TABLE IF EXISTS pit_vals_b")


def test_pagerank_edge_side_shuffles_once(spark, sf_dir):
    """graph.pagerank's loop-invariant edge partitioning: the cached edge
    table carries HashPartitioning(src), so each iteration's edge⋈rank
    join shuffles ONLY the small per-node rank side — the big edge side is
    never re-exchanged or re-sorted (shuffle-hash build from ranks)."""
    from feature_store_healthcare_spark.operators import graph

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"), (F.col("event_id") % 97).alias("dst")
    ).distinct()
    # checkpoint_every > iterations keeps the FULL 3-round lineage visible
    # (per-round checkpoints would truncate the plan we want to inspect)
    pr = graph.pagerank(edges, iterations=3, checkpoint_every=4)
    # no sort-merge join anywhere in 3 rounds — the cached edge side is
    # never re-sorted (its one-time REPARTITION_BY_COL hash layout is
    # reused from the persist); every round's joins build hash tables from
    # the small per-node side instead.  (Exchange COUNTS can't be asserted
    # textually here: explain re-prints the cached edge subtree once per
    # referencing round, so the string over-counts what executes once.)
    txt = plans.physical_plan(pr, mode="simple")
    assert plans.count_sort_merge_joins(pr) == 0
    assert txt.count("ShuffledHashJoin") >= 3  # one edge⋈rank join per round
    # the only shuffle of the raw edge table is the user-requested one-time
    # repartition("src") — textually it repeats per round, but every copy
    # is the SAME cached layout (REPARTITION_BY_COL), never a per-round
    # ENSURE_REQUIREMENTS re-shuffle of the edge relation
    import re
    # key-type suffix optional: the assertion is about REPARTITION_BY_COL,
    # not the join key's physical type or plan-format details
    assert re.search(r"Exchange hashpartitioning\(src#\d+L?, \d+\), REPARTITION_BY_COL", txt)
    total = pr.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-6


def test_interval_join_no_smj_and_bounded_exchanges(spark, sf_dir, qs):
    """The SCD2 containment join must broadcast its (pre-reduced) interval
    side, never sort-merge; beside that broadcast, one shuffle exchange
    stays."""
    df = qs["pit_interval_join"](spark, sf_dir)
    assert plans.count_sort_merge_joins(df) == 0
    assert plans.count_exchanges(df) <= 1


def test_corr_matrix_is_single_pass(spark, sf_dir, qs):
    """All pairwise moments reduce in one partial-aggregated scan: exactly
    one exchange (to the single final-agg row), no joins at all."""
    df = qs["feature_correlation_matrix"](spark, sf_dir)
    assert plans.count_exchanges(df) == 1
    p = plans.physical_plan(df, "simple")
    assert "Join" not in p, p


def test_drift_psi_broadcasts_edges_and_grid(spark, sf_dir, qs):
    """PSI's bin edges / totals / scaffold are all tiny — every join must
    broadcast; a sort-merge join anywhere means a stats table shuffled
    the fact scan."""
    df = qs["feature_drift_psi"](spark, sf_dir)
    assert plans.count_sort_merge_joins(df) == 0
    # edges + grid scaffold broadcast; the per-key totals now come from a
    # window over the grid instead of a third broadcast join.
    assert plans.count_broadcast_joins(df) >= 2


def test_mutual_info_scans_fact_once_for_joint(spark, sf_dir, qs):
    """MI derives marginals/total as WINDOW sums over the tiny joint-cell
    table; re-aggregating them would re-evaluate the fact lineage per
    marginal (4 scans).  Budget: 1 scan for bin edges + 1 for the joint,
    and the window exchanges only move the cell table."""
    df = qs["feature_label_mutual_info"](spark, sf_dir)
    assert len(plans.scan_read_schemas(df)) <= 2
    assert plans.count_exchanges(df) <= 4
    # the only join left is bucketize's broadcast of the 1-row bin edges
    assert plans.count_sort_merge_joins(df) == 0
    assert "BroadcastHashJoin" not in plans.physical_plan(df, "simple")


def test_bm25_no_term_window_and_all_broadcast(spark, sf_dir, qs):
    # ONE tokenize pass total: the regex+split+query-term filter appears
    # exactly once, inside the persisted (id, dl, __hits) base scan; the
    # postings and document-frequency branches explode the cached __hits
    # array instead of re-scanning the corpus (round-5 single-scan
    # rewrite).  No window partitioned by term (it would serialize the
    # Zipf head at scale); every query-side join broadcast, none
    # sort-merge; the only Window is the final per-query top-k rank.
    #
    # Order-independence: an EARLIER test's bm25 call on the same corpus
    # and query set leaves its base in the one-entry PlanCache; a hit
    # substitutes an InMemoryRelation and the tokenize expression
    # legitimately vanishes from the plan (better, not worse — but this
    # test pins the COLD plan shape, so start cold).
    retrieval.release_bm25_cache()
    df = qs["bm25_lexical_topk"](spark, sf_dir)
    plan = plans._effective_plan(df, "formatted")
    assert plan.count("filter(split(trim(regexp_replace(lower(text") == 1
    assert plan.count("explode(__hits") == 1
    assert plan.count("explode(array_distinct(__hits") == 1
    assert plan.count("explode(split(") == 0  # no unfiltered corpus explode
    # ≤1 logical Window node (the top-k rank); tree section lists each as
    # "Window (n)" (WindowGroupLimit also matches the prefix — subtract).
    assert plan.count("Window (") - plan.count("WindowGroupLimit (") <= 1
    assert plans.count_sort_merge_joins(df) == 0
    # qterms + dfreq broadcast; the old terms semi-join is gone (replaced
    # by the pushed-down literal filter)
    assert plans.count_broadcast_joins(df) >= 2


def test_stored_postings_probes_never_retokenize(spark, sf_dir, qs):
    """Round-6 VERDICT #3: the text/LM family's stored-index twins probe
    the bucketed postings TABLE — the corpus text is never re-read or
    re-tokenized, the query-term filter reaches the scan as a pushed
    ``In(term, ...)``, and the live forms' shuffle storm (7 shuffle
    exchanges for perplexity, 11 for bigram) collapses to the final
    folds."""
    bm = qs["bm25_stored_postings"](spark, sf_dir)
    p = plans._effective_plan(bm, "formatted")
    # the ONLY tokenize left is the 3-row query-batch literal, never the corpus
    assert p.count("regexp_replace(lower(text") == 0
    assert "In(term, [" in p  # query terms pushed into the postings scan
    assert plans.count_sort_merge_joins(bm) == 0
    assert plans.count_broadcast_joins(bm) >= 2

    ppl = qs["perplexity_stored_postings"](spark, sf_dir)
    p = plans._effective_plan(ppl, "formatted")
    assert p.count("regexp_replace(lower(") == 0
    assert plans.count_exchanges(ppl) <= 2  # live twin: 7
    assert plans.count_sort_merge_joins(ppl) == 0

    bg = qs["bigram_lm_stored_postings"](spark, sf_dir)
    p = plans._effective_plan(bg, "formatted")
    assert p.count("regexp_replace(lower(") == 0
    assert plans.count_exchanges(bg) <= 2  # live twin: 11
    assert plans.count_sort_merge_joins(bg) == 0

    inc = qs["dedup_incremental_stored_bands"](spark, sf_dir)
    p = plans._effective_plan(inc, "formatted")
    # corpus side reads the stored band table — no corpus re-shingle; the
    # delta side's tokenize lives behind the one-entry delta cache
    assert p.count("regexp_replace(lower(text") == 0
    assert plans.count_sort_merge_joins(inc) == 0


def test_perplexity_no_term_window(spark, sf_dir, qs):
    # postings explode + term-count explode; no window partitioned by term
    # (Zipf-skew hazard), no sort-merge join.
    df = qs["doc_perplexity_quality"](spark, sf_dir)
    plan = plans._effective_plan(df, "formatted")
    explodes = plan.count("explode(split(trim(regexp_replace(lower(text")
    assert explodes == 2
    assert "Window" not in plan
    assert plans.count_sort_merge_joins(df) == 0


def test_pack_sequences_two_exchanges(spark, sf_dir, qs):
    # one hash exchange into the per-group window sort + one for the final
    # per-pack aggregate (plus the loader's round-robin spread of the
    # single-row-group test file).
    df = qs["sequence_packing_report"](spark, sf_dir)
    assert plans.count_sort_merge_joins(df) == 0
    assert plans.count_exchanges(df) <= 3


class TestRound2CorpusOps:
    """Plan guards for the chunking / vocab / skew / burst-dedup family."""

    def test_chunking_is_single_pass(self, spark, sf_dir):
        df = catalog.queries()["rag_chunk_documents"](spark, sf_dir)
        # 1 exchange total: the deliberate small-file spread repartition;
        # the chunk expansion itself is shuffle-free codegen
        assert plans.count_exchanges(df) <= 1
        assert plans.count_sort_merge_joins(df) == 0
        # column pruning reaches the scan: only (doc_id, text) read
        schemas = plans.scan_read_schemas(df)
        assert schemas and all("n_chars" not in s for s in schemas)

    def test_vocab_topk_uses_take_ordered(self, spark, sf_dir):
        df = catalog.queries()["vocab_top_coverage"](spark, sf_dir)
        # the top-k cut must be per-partition heaps, not a global sort
        assert plans.uses_take_ordered(df)
        assert plans.count_sort_merge_joins(df) == 0

    def test_skew_profile_bounded_shuffles(self, spark, sf_dir):
        df = catalog.queries()["join_key_skew_profile"](spark, sf_dir)
        # per-key count (1) + two single-row final aggs; never more
        assert plans.count_exchanges(df) <= 3
        assert plans.count_sort_merge_joins(df) == 0
        assert plans.uses_take_ordered(df)

    def test_burst_dedup_one_shuffle(self, spark, sf_dir):
        df = catalog.queries()["events_burst_dedup"](spark, sf_dir)
        # exactly the lag window's hash exchange on the dedup keys
        assert plans.count_exchanges(df) == 1
        assert plans.count_sort_merge_joins(df) == 0


def test_minhash_shuffled_candidate_join_plan(spark, sf_dir):
    """The de-broadcast LSH candidate join (the 100 TB shape): a shuffled
    equi-join on the uniformly-hashed (band, bkey) key — no
    BroadcastExchange anywhere (the band table at corpus scale is
    #docs x bands rows), and never a cross product."""
    from feature_store_healthcare_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", broadcast_candidates=False
        )
        txt = plans.physical_plan(df, "simple")
        assert "BroadcastExchange" not in txt, txt
        assert "CartesianProduct" not in txt and "BroadcastNestedLoop" not in txt
        # the candidate join is a real shuffled join on the band key
        assert ("SortMergeJoin" in txt) or ("ShuffledHashJoin" in txt)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_simhash_shuffled_candidate_join_plan(spark, sf_dir):
    """Same contract for the simhash pigeonhole join's shuffled path."""
    from feature_store_healthcare_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = dedup.simhash_pairs(
            docs, "doc_id", "text", bits=64, max_hamming=3,
            broadcast_candidates=False,
        )
        txt = plans.physical_plan(df, "simple")
        assert "BroadcastExchange" not in txt, txt
        assert "CartesianProduct" not in txt and "BroadcastNestedLoop" not in txt
        assert ("SortMergeJoin" in txt) or ("ShuffledHashJoin" in txt)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_stored_band_table_self_join_zero_corpus_shuffle(spark, sf_dir, tmp_path):
    """SCALE.md's stored-LSH-index path: persist the (id, band, bkey) band
    table bucketed by bkey (stores.write_bucketed), then generate candidate
    pairs by self-joining the STORED index — the join zips bucket i with
    bucket i, so the corpus-sized band table is never re-shuffled; the only
    exchange left is the final distinct over the (tiny) pair set."""
    from feature_store_healthcare_spark.operators import dedup
    from feature_store_healthcare_spark.stores import read_table, write_bucketed

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    banded = dedup._banded_signatures(sig, "doc_id", 16, 4)
    write_bucketed(banded, "lsh_bands_b", "bkey", 4, str(tmp_path / "bands_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        stored = read_table(spark, "lsh_bands_b")
        pairs = dedup.lsh_pairs_from_bands(stored, "doc_id", broadcast_candidates=False)
        txt = plans.physical_plan(pairs, "simple")
        assert "BroadcastExchange" not in txt, txt
        # bucketed self-join on (band, bkey) with bkey bucketing: both scan
        # sides already satisfy the clustering -> only the distinct shuffles
        assert plans.count_exchanges(pairs) <= 1, txt
        expected = dedup.lsh_pairs_from_bands(
            banded, "doc_id", broadcast_candidates=True
        )
        want = sorted(map(tuple, pairs.collect()))
        assert want == sorted(map(tuple, expected.collect()))
        # COMPACTION PRESERVES CO-LOCATION: after compact_bucketed the
        # same self-join must still zip bucket-to-bucket (≤1 exchange)
        # and return identical pairs — i.e. the maintenance rewrite never
        # costs the index its layout.
        from feature_store_healthcare_spark.stores import compact_bucketed

        compact_bucketed(spark, "lsh_bands_b", str(tmp_path / "bands_b2"))
        after = dedup.lsh_pairs_from_bands(
            read_table(spark, "lsh_bands_b"), "doc_id",
            broadcast_candidates=False,
        )
        assert plans.count_exchanges(after) <= 1
        assert "BroadcastExchange" not in plans.physical_plan(after, "simple")
        assert sorted(map(tuple, after.collect())) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS lsh_bands_b")
        spark.sql("DROP TABLE IF EXISTS lsh_bands_b__compact")


def test_incremental_cross_delta_over_budget_shuffles(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r5 #1 closed: the incremental cross probe routes its delta
    through the module's single size gate (_auto_build_side).  With the
    budget forced to 0 the auto-sized delta must NOT broadcast (a
    backfill-sized delta would otherwise attempt multi-GB driver
    shipping); the probe falls back to the shuffled equi-join on the
    uniformly-hashed bkey.  Pinning broadcast_delta=True restores the
    daily-batch broadcast shape; both shapes return identical pairs."""
    from feature_store_healthcare_spark.operators import dedup
    from feature_store_healthcare_spark.stores import read_table, write_bucketed

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    bands = dedup._banded_signatures(
        dedup.minhash_signatures(corpus, "doc_id", "text", num_hashes=16),
        "doc_id", 16, 4,
    )
    write_bucketed(bands, "lsh_bands_x", "bkey", 4, str(tmp_path / "bands_x"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        stored = read_table(spark, "lsh_bands_x")
        monkeypatch.setattr(dedup, "_BROADCAST_ROW_BUDGET", 0)
        shuffled = dedup.minhash_lsh_pairs_cross(
            new, None, "doc_id", "text", corpus_bands=stored
        )
        txt = plans.physical_plan(shuffled, "simple")
        assert "BroadcastExchange" not in txt, txt
        assert ("SortMergeJoin" in txt) or ("ShuffledHashJoin" in txt), txt
        pinned = dedup.minhash_lsh_pairs_cross(
            new, None, "doc_id", "text", corpus_bands=stored, broadcast_delta=True
        )
        assert "BroadcastExchange" in plans.physical_plan(pinned, "simple")
        assert sorted(map(tuple, shuffled.collect())) == sorted(
            map(tuple, pinned.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS lsh_bands_x")


def test_hybrid_rrf_ivf_stored_scans_neither_corpus(spark, sf_dir, qs):
    """Round-7 VERDICT ask #1 plan pin: the all-stored hybrid's returned
    plan reads ONLY the two indexes — no documents scan (the lexical half
    probes the term-bucketed postings table, query terms pushed), no
    embeddings scan (the cosine half probes the __list-partitioned IVF
    index under a static partition filter; the 5-vector query batch is a
    bounded driver-side collect, not part of the returned plan)."""
    df = qs["hybrid_rrf_ivf_stored"](spark, sf_dir)
    plan = plans.physical_plan(df, "formatted")
    assert "documents.parquet" not in plan
    assert "embeddings.parquet" not in plan
    assert plan.count("regexp_replace(lower(text") == 0  # never re-tokenized
    assert "In(term, [" in plan  # postings scan pruned to query terms
    # IVF scan pruned to the probed inverted lists before any I/O
    assert "PartitionFilters" in plan and "__list" in plan
    assert plans.count_sort_merge_joins(df) == 0


def test_read_table_fails_fast_on_unclassified_analysis_error():
    """Round-7 ADVICE #1: the swap-window retry is scoped to a POSITIVELY
    identified TABLE_OR_VIEW_NOT_FOUND condition.  An AnalysisException
    whose getCondition() is None (an unclassified permanent failure, e.g.
    a broken view) must raise on the FIRST attempt — pre-fix it burned
    ten retries (~2.5 s of sleeps) before surfacing the real error."""
    import time as _time

    from pyspark.errors import AnalysisException

    from feature_store_healthcare_spark.stores import read_table

    calls = []

    class FakeSpark:
        def table(self, name):
            calls.append(name)
            raise AnalysisException("broken view: unresolvable thing")

    t0 = _time.time()
    with pytest.raises(AnalysisException):
        read_table(FakeSpark(), "t_whatever")
    assert len(calls) == 1, "unclassified analysis error must not retry"
    assert _time.time() - t0 < 1.0, "and must not sleep"


def test_read_table_retries_only_the_swap_condition():
    """The positive half of the same contract: TABLE_OR_VIEW_NOT_FOUND
    (the compact_bucketed drop→rename window) IS retried, and the read
    succeeds once the swap lands."""
    from pyspark.errors import AnalysisException

    from feature_store_healthcare_spark.stores import read_table

    calls = []

    class SwapExc(AnalysisException):
        def getCondition(self):
            return "TABLE_OR_VIEW_NOT_FOUND"

    class FakeSpark:
        def table(self, name):
            calls.append(name)
            if len(calls) < 3:
                raise SwapExc(f"[TABLE_OR_VIEW_NOT_FOUND] {name}")
            return "resolved"

    assert read_table(FakeSpark(), "t_swapping") == "resolved"
    assert len(calls) == 3


def test_read_table_retry_falls_back_to_message_text():
    """Round-8 ADVICE (low): when the exception carries NO usable
    condition — getCondition absent (older PySpark) or returning None —
    the swap-window error is identified by the condition NAME in the
    message text, so the documented ~2.5 s reader-side retry contract
    does not silently become fail-fast.  Anything else without the name
    still fails fast (pinned by
    test_read_table_fails_fast_on_unclassified_analysis_error)."""
    from pyspark.errors import AnalysisException

    from feature_store_healthcare_spark.stores import read_table

    calls = []

    class NoConditionExc(AnalysisException):
        def getCondition(self):
            return None

    class FakeSpark:
        def table(self, name):
            calls.append(name)
            if len(calls) < 3:
                raise NoConditionExc(
                    f"[TABLE_OR_VIEW_NOT_FOUND] The table or view {name} "
                    "cannot be found."
                )
            return "resolved"

    assert read_table(FakeSpark(), "t_swap_noc") == "resolved"
    assert len(calls) == 3

    # getCondition MISSING entirely (older PySpark builds)
    calls.clear()

    class LegacyExc(AnalysisException):
        # models pre-getCondition PySpark: the attribute doesn't resolve
        # to a callable, and str() is just the message
        getCondition = None

        def __init__(self, msg):
            self._legacy_msg = msg
            Exception.__init__(self, msg)

        def __str__(self):
            return self._legacy_msg

    class LegacySpark:
        def table(self, name):
            calls.append(name)
            if len(calls) < 2:
                raise LegacyExc(f"[TABLE_OR_VIEW_NOT_FOUND] {name}")
            return "resolved"

    assert read_table(LegacySpark(), "t_swap_legacy") == "resolved"
    assert len(calls) == 2


def test_compaction_lease_across_real_processes(tmp_path):
    """The flock contract is cross-process: a second OS process fails fast
    while we hold the lease; a process that acquires and DIES without
    releasing loses its kernel lock with its last fd, so the next acquire
    takes over immediately (the crash-recovery story, pinned on real
    process boundaries rather than same-process fd games)."""
    import subprocess
    import sys as _sys

    from feature_store_healthcare_spark.tableops import (
        acquire_compaction_lease,
        release_compaction_lease,
    )

    import pathlib

    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    target = str(tmp_path / "xproc_table")

    def probe() -> str:
        code = (
            "import sys\n"
            f"sys.path.insert(0, {repo!r})\n"
            "from feature_store_healthcare_spark.tableops import ("
            "acquire_compaction_lease, LeaseHeldError)\n"
            "try:\n"
            f"    acquire_compaction_lease({target!r}, owner='other-proc')\n"
            "    print('ACQUIRED')\n"
            "except LeaseHeldError:\n"
            "    print('HELD')\n"
        )
        return subprocess.run(
            [_sys.executable, "-c", code], capture_output=True, text=True, timeout=60
        ).stdout

    lease, owner = acquire_compaction_lease(target, owner="local")
    assert "HELD" in probe()
    release_compaction_lease(lease, owner)
    # the subprocess acquires, then exits WITHOUT releasing (simulated
    # crash — its marker file survives, its kernel lock does not)
    assert "ACQUIRED" in probe()
    import os as _os

    assert _os.path.exists(lease)
    lease2, owner2 = acquire_compaction_lease(target, owner="local-2")
    assert lease2 == lease
    release_compaction_lease(lease2, owner2)
