"""Audit every catalog query's physical plan for the scale properties the
engine is designed around (SURVEY.md §4), and write SCALE.md.

For each query: shuffle-exchange count, broadcast vs sort-merge join counts,
whether any parquet scan has pushed filters, the narrowest/widest scan
ReadSchema column counts (column-pruning evidence), and top-k collapse.
These are *structural* facts read from the unexecuted plan — the same
invariants tests/test_plans.py asserts for the flagship queries, here swept
across the whole catalog so a regression anywhere is visible in one table.

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import pathlib
import re
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from feature_store_healthcare_spark import plans  # noqa: E402
from feature_store_healthcare_spark import queries as catalog  # noqa: E402
from feature_store_healthcare_spark.session import get_spark  # noqa: E402


def scan_widths(df) -> list[int]:
    cols = []
    for schema in plans.scan_read_schemas(df):
        cols.append(len(re.findall(r"[\w]+:", schema)))
    return cols


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = pathlib.Path(sys.argv[2] if len(sys.argv) > 2 else REPO / "SCALE.md")
    spark = get_spark("fshs-plan-audit")

    rows = []
    for name, fn in sorted(catalog.queries().items()):
        try:
            df = fn(spark, sf_dir)
            ex = plans.count_exchanges(df)
            bhj = plans.count_broadcast_joins(df)
            smj = plans.count_sort_merge_joins(df)
            pushed = any(f.strip() for f in plans.pushed_filters(df))
            widths = scan_widths(df)
            topk = plans.uses_take_ordered(df)
            rows.append(
                (name, ex, bhj, smj, "yes" if pushed else "—",
                 f"{min(widths)}–{max(widths)}" if widths else "—",
                 "yes" if topk else "—")
            )
        except Exception as e:  # pragma: no cover - audit must not die mid-sweep
            rows.append((name, "?", "?", "?", "?", "?", f"error: {e}"))

    lines = [
        "# SCALE — physical-plan audit of the query catalog",
        "",
        "Generated by `python tools/plan_audit.py` (re-run after any operator",
        f"change). Plans built against `{sf_dir}`; structural properties are",
        "scale-factor-independent (same plan shape at 100 TB, modulo AQE's",
        "runtime choices).",
        "",
        "Reading the table:",
        "",
        "- **shuffles** — `Exchange hash/range/…` count (`plans.count_exchanges`;",
        "  broadcast exchanges are not counted). Each is a full",
        "  materialization barrier at scale; the design target is the minimum",
        "  the semantics allow (PIT join = 2 with both sides shuffled, 1 with",
        "  the value side broadcast; latest-per-key = 1, scan-agg = 1,",
        "  pure filter/project = 0).",
        "- **bcast / smj** — broadcast-hash vs sort-merge join counts. Dimension",
        "  tables (region, nation, customer, supplier, part, registry) must",
        "  broadcast; an smj against a dim table is a regression. smj > 0 is",
        "  correct only for fact-fact joins (orders⋈lineitem at 100 TB).",
        "- **pushdown** — at least one parquet scan carries PushedFilters.",
        "  Queries with no selective predicate legitimately show `—`. So do the",
        "  `dedup.shingles` consumers (`bigram_lm_fluency`, `dedup_minhash_lsh`,",
        "  `dedup_minhash_lsh_shuffled`, `dedup_ngram_jaccard`): shingles drops",
        "  NULL text with a `CASE WHEN` on the projected tokens, not a `where`",
        "  on the text, so no `IsNotNull(text)` reaches the documents scan (the",
        "  rows are the same; the scan reads the NULL-text rows too).",
        "- **scan cols** — min–max columns in scans' ReadSchema: column-pruning",
        "  evidence (documents/events scans stay narrow even though the tables",
        "  are wide).",
        "- **top-k** — sort+limit collapsed to TakeOrderedAndProject (no global",
        "  sort).",
        "",
        "| query | shuffles | bcast | smj | pushdown | scan cols | top-k |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    lines += [
        "",
        "Caveats: counts read the pre-execution (AQE-initial) plan — AQE can",
        "further convert smj→broadcast at runtime and coalesce shuffle",
        "partitions. Python-UDF stages (multimodal, ANN bucketing) show their",
        "JVM-side structure only; the Arrow batch kernels are opaque to the",
        "planner by design. Shared subplans persisted through caching.PlanCache",
        "(drift's psi/ks edges, robust_outliers' median, and q11/q20's derived",
        "tables since round 8) print",
        "their build lineage inside the InMemoryRelation, so those rows count",
        "the operator's TOTAL work — round 7's eager localCheckpoint ran the",
        "same build as a hidden job before the audited plan existed (psi/ks",
        "4→6 exchanges, robust_outliers 5→7, training_serving_skew 7→13: same",
        "executed work, now visible; the cached frame computes once either way).",
        "",
        "Plan-shape notes (the non-obvious wins, pinned by tests/test_plans.py",
        "and tests/test_layout.py):",
        "",
        "- **PIT family runs on ONE shuffle per side**: the as-of argmax",
        "  groups on (join keys + spine pk) — a superset of the join's hash",
        "  keys — so the aggregate reuses the join's partitioning instead of",
        "  re-exchanging; with both sides pre-bucketed on the entity key",
        "  (`stores.write_bucketed`) the whole training join plans with ZERO",
        "  exchanges.",
        "- **Derived statistics never rescan the fact**: mutual information's",
        "  marginals/total are window sums over the tiny joint-cell table;",
        "  Spark does not share subplans across DataFrame branches, so the",
        "  groupBy-and-join-back formulation re-evaluates the whole fact",
        "  lineage once per marginal.",
        "- **Quadratic-risk operators carry their denominators**: n-gram",
        "  Jaccard ships set sizes through the shingle explode (group keys,",
        "  not first() buffers, in the pair aggregate) and spreads the probe",
        "  side ×4 over core count — candidate pairs are quadratic in",
        "  hot-shingle frequency, and the per-task partial-agg map is the",
        "  memory hot spot on small-heap executors.",
        "",
        "## How the non-relational operators scale to 100 TB",
        "",
        "- **PIT training join** (`operators/pit.py`): one shuffle on the join",
        "  key + one conditional-aggregate per spine row regardless of feature",
        "  count (`point_in_time_pivot`). With the EAV store and spine bucketed",
        "  by entity (`stores.write_bucketed`), the join shuffle disappears;",
        "  partitioning by `event_date` bounds each run's scan to the as-of",
        "  horizon.",
        "- **Online serving**: `stores.export_online_kv` ships the latest table",
        "  to an md5-hash-bucketed layout; the client computes the bucket in",
        "  plain Python (`kv_bucket_py`) and the scan prunes to one directory —",
        "  point-get cost is one small file read, independent of table size.",
        "- **MinHash/SimHash LSH**: signatures are one scan + one",
        "  partial-aggregatable shuffle; the banded self-join broadcasts the",
        "  (doc, band) side while it fits, and beyond that the band table is",
        "  written bucketed by (band, key) so candidates co-locate without a",
        "  shuffle. Stop-shingle removal bounds the quadratic tail; persist()",
        "  locally = materialized signature table at scale.",
        "- **ANN (IVF / sign-LSH)**: centroid and hyperplane constants live in",
        "  Arrow-UDF closures (numpy matmul per batch — never plan literals);",
        "  the corpus assignment is shuffle-free and writable as a table",
        "  partitioned by list/bucket id, so a query touches nprobe partitions.",
        "  Exact cosine re-rank stays JVM-side and is the verification path.",
        "  The stored index has the full lifecycle: `append_ivf_index` assigns",
        "  each delta against the stored centroids (shuffle-free map, appended ≡",
        "  one-shot built under the same quantizer, test-pinned) and",
        "  `compact_ivf_index` rewrites append-grown lists to one file each;",
        "  centroid retrain is an explicit rebuild on recall-monitoring cadence.",
        "- **Multimodal**: binary payloads stay opaque until the Arrow",
        "  `mapInPandas` kernel; metadata-only plans (stats, frame sampling,",
        "  chunking) never deserialize content, so they scan at parquet speed.",
        "- **Curation pipeline**: gates evaluate in the scan projection;",
        "  fingerprint dedup is one partial-aggregatable shuffle; the report",
        "  re-aggregates on low-cardinality keys — three stages total at any",
        "  scale.",
        "- **Maintenance**: retention deletes prune by partition date before",
        "  touching rows; compaction rewrites per-partition; Z-order",
        "  (`operators/layout.py`) clusters multi-column access paths with",
        "  approx-quantile cut points at scale.",
        "- **Cache/memo version tokens** (`caching.data_version`): the operator",
        "  caches and tripwire memos key on an input-file version signal so a",
        "  corpus grown in place refreshes results and estimates.  The naive",
        "  form (hash every leaf path driver-side) is itself a scale bug —",
        "  measured ~0.2 s per 1.5k files through py4j and linear, i.e. minutes",
        "  per operator call on a ~1M-file 100 TB table — so above 1,024 files",
        "  the token degrades to (file count, total bytes): two O(1) metadata",
        "  calls (~4 ms at 5k files, size-independent), both of which change on",
        "  any append.  The residual blind spot (in-place rewrite with identical",
        "  count AND bytes) also defeats Spark's own persisted-plan semantics;",
        "  such pipelines call the `release_*` hooks between batches.",
    ]
    # Preserve the "## Measured" sections verbatim: with SCALE_REHEARSAL.json
    # they are the frozen r15 scale-rehearsal record, not output of this audit.
    preserved = ""
    if out_md.exists():
        old = out_md.read_text()
        idx = old.find("\n## Measured")
        if idx != -1:
            # strip then re-add the separator so regeneration is idempotent
            # (no trailing-newline growth run over run)
            preserved = "\n\n" + old[idx:].strip("\n")
    out_md.write_text("\n".join(lines) + preserved + "\n")
    print(f"wrote {out_md} ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
