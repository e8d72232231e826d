"""Self-tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import checks, gen
from perfbench.run import outcome, run_loop
from perfbench.stats import percentile, summary, tail_level
from perfbench.trace import Span, Tracer, self_time
from perfbench.workloads import OnlineServing, OpRecord


# -- percentile rule ----------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tail_level(19) is None
    assert tail_level(20) == 50.0
    assert tail_level(99) == 50.0
    assert tail_level(100) == 90.0
    assert tail_level(199) == 90.0
    assert tail_level(200) == 95.0
    assert tail_level(1000) == 99.0
    assert tail_level(10000) == 99.9


def test_percentile_is_nearest_rank():
    xs = [float(x) for x in range(1, 11)]
    assert percentile(xs, 90) == 9.0
    assert percentile(xs, 50) == 5.0
    assert percentile(list(reversed(xs)), 100) == 10.0


def test_summary_reports_sample_count_and_supported_tail():
    s = summary([float(x) for x in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5
    assert s["tail_level"] == 90.0 and s["tail"] == 89.0
    assert "tail" not in summary([1.0, 2.0])


# -- the timed loop ---------------------------------------------------------------


class _Loop:
    WARMUP_OPS, MIN_OPS, BLOCK, MAX_OPS = 2, 5, 3, 100

    def start_timing(self):
        pass

    def op(self, i):
        return OpRecord(i, "x")

    def after_op(self):
        pass


def test_loop_holds_min_ops_in_whole_blocks_after_warmup():
    records = run_loop(_Loop(), Tracer(), seconds=0.0, trace=False)
    assert [r.index for r in records] == [2, 3, 4, 5, 6, 7]


def test_loop_stops_when_inputs_run_out():
    wl = _Loop()
    wl.MAX_OPS = 4
    assert [r.index for r in run_loop(wl, Tracer(), seconds=60.0, trace=False)] == [2, 3]


# -- spans --------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", "x", None, parent, start, end)


def test_self_time_merges_overlapping_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0), _span(3, 8.0, 12.0, 0)]
    # covered: [1, 6] and [8, 10] (clipped to the parent) = 7
    assert self_time(parent, kids) == 3.0


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 2.0, 5.5), []) == 3.5


def test_spans_carry_parent_and_operation_ids():
    t = Tracer(enabled=True)
    with t.span("op", "bench", op=7):
        with t.span("a", "serving"):
            with t.span("b", "spark"):
                pass
    op, a, b = t.spans
    assert (op.parent, a.parent, b.parent) == (None, op.id, a.id)
    assert {s.op for s in t.spans} == {7}
    assert op.start <= a.start <= b.start <= b.end <= a.end <= op.end


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("op", "bench", op=1) as s:
        assert s is None
    assert t.spans == []


# -- seeds ----------------------------------------------------------------------


def _inputs(seed):
    eav = gen.eav_log(seed, 50, 3)
    ops = gen.online_schedule(seed, 50, 200)
    spines = gen.spines(seed, 50, 2, 100)
    batches, late = gen.ingest_batches(eav, seed, 3, 200)
    tables = gen.catalog_tables(seed, gen.CatalogSize(documents=40))
    return gen.schedule_digest(eav, [repr(o) for o in ops], spines, batches, late,
                               [tables[k] for k in sorted(tables)])


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert _inputs(5) == _inputs(5)
    assert _inputs(5) != _inputs(6)


def test_online_schedule_has_one_write_per_ten_ops():
    ops = gen.online_schedule(3, 100, 1000)
    kinds = np.array([o.kind == "write" for o in ops]).reshape(100, 10)
    assert (kinds.sum(axis=1) == 1).all()


def test_late_rows_are_older_than_the_stored_value():
    base = gen.eav_log(4, 30, 2)
    batches, late = gen.ingest_batches(base, 4, 4, 300)
    seen = base
    for batch, seqs in zip(batches, late):
        newest = seen.groupby(["feature_name", "entity_id"])["event_timestamp"].max()
        rows = batch[batch["seq"].isin(seqs)]
        assert len(rows) > 0
        held = newest.loc[list(zip(rows["feature_name"], rows["entity_id"]))].to_numpy()
        assert (rows["event_timestamp"].to_numpy() < held).all()
        seen = pd.concat([seen, batch[~batch["seq"].isin(seqs)]])


# -- checks ---------------------------------------------------------------------


def _online(seed=9):
    wl = OnlineServing.__new__(OnlineServing)
    wl.eav = gen.eav_log(seed, 40, 3)
    wl.ops = gen.online_schedule(seed, 40, 60)
    return wl


def _served(wl):
    """Outputs a correct server would return for every op."""
    truth = {k: v for k, (v, _s) in checks.latest_truth(wl.eav).items()}
    records = []
    for i, o in enumerate(wl.ops):
        names = gen.MODEL_LISTS[o.model]
        if o.kind == "write":
            truth.update({(n, o.entity_id): v for n, v in zip(names, o.values)})
        records.append(OpRecord(i, o.kind, out={n: truth[(n, o.entity_id)] for n in names}))
    return records


def test_correct_outputs_pass_the_online_check():
    wl = _online()
    records = _served(wl)
    wl.check(records)
    assert outcome(records) == {"correct": True, "attempted": 60, "failed": 0}


def test_injected_wrong_output_counts_in_error_rate():
    wl = _online()
    records = _served(wl)
    victim = next(r for r in records if r.kind != "write")
    name = next(iter(victim.out))
    victim.out[name] += 1.0
    wl.check(records)
    assert outcome(records) == {"correct": False, "attempted": 60, "failed": 1}
    assert victim.failed


def test_late_rows_never_change_the_latest_truth():
    base = gen.eav_log(2, 20, 2)
    batches, late = gen.ingest_batches(base, 2, 2, 100)
    on_time = batches[0][~batches[0]["seq"].isin(late[0])]
    assert checks.latest_truth(pd.concat([base, on_time])) == checks.latest_truth(
        pd.concat([base, batches[0]])
    )


def test_catalog_match_is_order_and_case_insensitive_but_exact():
    cols, rows = ["a", "B"], [(1, 2.0), (3, 4.0)]
    assert checks.catalog_match(cols, rows, ["b", "A"], [(4.0, 3), (2.0, 1)])
    assert not checks.catalog_match(cols, rows, ["b", "A"], [(4.0, 3), (2.5, 1)])
    assert not checks.catalog_match(cols, rows, ["b", "A"], [(4.0, 3)])
