"""The workloads.  Each drives the library only through its public
functions and keeps the same shape:

- ``__init__`` makes the seeded inputs (no Spark);
- ``setup(rep)`` loads them into a fresh instance and warms it up; the
  benchmark calls it several times and keeps the last instance;
- ``op(i)`` runs operation ``i`` of the closed loop and returns its
  :class:`OpRecord`;
- ``check(records)`` compares the outputs with the generator's ground
  truth and marks wrong ones failed;
- ``details`` / ``per_layer`` turn the records (and the trace) into the
  workload's own metrics.

Spans are opened here, around each call into a layer.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa

from feature_store_healthcare_spark import queries as catalog
from feature_store_healthcare_spark.registry import (
    VALUES_SCHEMA,
    FeatureRegistry,
    FeatureSchema,
    FeatureSource,
    FeatureStatus,
    FeatureValueType,
)
from feature_store_healthcare_spark.serving import FeatureServer
from feature_store_healthcare_spark.stores import LatestStore

from . import checks, gen
from .metrics import CATALOG_ENTRIES
from .stats import summary
from .trace import SparkCost, Tracer


@dataclass
class OpRecord:
    index: int
    kind: str
    latency_s: float = 0.0
    failed: bool = False
    error: str = ""
    traced: bool = False
    out: object = None
    extra: dict = field(default_factory=dict)


@dataclass
class Env:
    spark: object
    tracer: Tracer
    work_dir: str
    seed: int


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, hidden checksum files included."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


def storage_bytes(spark) -> int:
    """Bytes Spark's block store holds for cached data right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def new_registry(spark, storage_dir: str) -> tuple[FeatureRegistry, dict[str, str]]:
    """A registry with the five ACTIVE FLOAT64 user features."""
    reg = FeatureRegistry(spark, storage_dir=storage_dir, audit_all_access=False)
    fids = {}
    for name in gen.FEATURES:
        f = reg.register_feature(
            name,
            FeatureSchema(name, FeatureValueType.FLOAT64, entity_type=gen.ENTITY_TYPE),
            FeatureSource(),
            owner="perfbench",
            status=FeatureStatus.ACTIVE,
        )
        fids[name] = f.feature_id
    return reg, fids


def values_frame(spark, eav: pd.DataFrame, fids: dict[str, str]):
    """Generated EAV rows as a Spark DataFrame in the registry's layout."""
    cols = {}
    for name in VALUES_SCHEMA.fieldNames():
        if name == "feature_id":
            cols[name] = eav["feature_name"].map(fids)
        elif name == "entity_type":
            cols[name] = gen.ENTITY_TYPE
        elif name in eav.columns:
            cols[name] = eav[name]
        else:
            cols[name] = None
    pdf = pd.DataFrame(cols, index=eav.index)
    return spark.createDataFrame(pdf, schema=VALUES_SCHEMA)


def spark_cost(tracer: Tracer, costs: dict[int, SparkCost], root) -> SparkCost:
    """Executor cost of a span and all its descendants."""
    total = SparkCost()
    stack = [root]
    while stack:
        s = stack.pop()
        if s.id in costs:
            total.add(costs[s.id])
        stack.extend(tracer.children(s))
    return total


def spark_layer(tracer: Tracer, costs: dict[int, SparkCost]) -> dict:
    """spark.* per traced operation of the timed loop, plus the Python
    worker start-up paid during set-up (spans outside any operation)."""
    ops = [s for s in tracer.spans if s.name == "op"]
    total = SparkCost()
    for s in ops:
        total.add(spark_cost(tracer, costs, s))
    n = max(len(ops), 1)
    setup_start = sum(
        costs[s.id].python_worker_start_s
        for s in tracer.spans
        if s.op is None and s.id in costs
    )
    return {
        "spark.jobs_per_op": (total.jobs / n, "count"),
        "spark.tasks_per_op": (total.tasks / n, "count"),
        "spark.task_run_s_per_op": (total.task_run_s / n, "s"),
        "spark.task_cpu_s_per_op": (total.task_cpu_s / n, "s"),
        "spark.gc_s_per_op": (total.gc_s / n, "s"),
        "spark.shuffle_write_bytes_per_op": (total.shuffle_write_bytes / n, "bytes"),
        "spark.spill_bytes_per_op": (total.spill_bytes / n, "bytes"),
        "spark.python_worker_start_s_per_op": (total.python_worker_start_s / n, "s"),
        "spark.setup_python_worker_start_s": (setup_start, "s"),
    }


class Workload:
    name = ""
    #: the operation kind whose median is the run's op_p50_ms
    primary = ""
    #: operations run untimed after set-up, before the timed loop
    WARMUP_OPS = 0
    #: the timed loop runs at least this many operations, so the median
    #: sits at the same place in the run however fast the host is
    MIN_OPS = 1
    #: the timed loop runs whole blocks of this many operations
    BLOCK = 1
    #: operations the generated inputs hold (warm-up included)
    MAX_OPS = float("inf")

    def __init__(self, env: Env) -> None:
        self.env = env
        self.spark = env.spark
        self.tracer = env.tracer
        self.storage_samples: list[int] = []

    def digest(self) -> str:
        raise NotImplementedError

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def op(self, i: int) -> OpRecord:
        raise NotImplementedError

    def check(self, records: list[OpRecord]) -> None:
        raise NotImplementedError

    def details(self, records: list[OpRecord]) -> dict:
        """The workload's own end-to-end metrics, with sample counts."""
        raise NotImplementedError

    def per_layer(self, records: list[OpRecord], costs: dict[int, SparkCost]) -> dict:
        raise NotImplementedError

    def start_timing(self) -> None:
        """Called once between the warm-up and the timed loop."""

    def after_op(self) -> None:
        """Untimed bookkeeping after each traced operation."""
        if self.tracer.enabled:
            self.storage_samples.append(storage_bytes(self.spark))

    def close(self) -> None:
        pass

    def rep_dir(self, rep: int) -> str:
        path = os.path.join(self.env.work_dir, f"rep{rep}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def span_ms(self, name: str, **match) -> list[float]:
        return [
            s.duration * 1e3
            for s in self.tracer.spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in match.items())
        ]


# ---------------------------------------------------------------------------


class OnlineServing(Workload):
    """Single-entity reads by an online model server, with occasional
    writes each followed by a read-your-write."""

    name = "online_serving"
    #: the gate tracks reads the LRU cannot answer: their latency does not
    #: depend on how many repeats a seed's schedule happens to hold
    primary = "read_miss"
    N_ENTITIES = 1000
    PER_KEY = 4
    MAX_OPS = 2000
    #: miss latency falls steeply over the first few dozen reads, then
    #: drifts down slowly; the timed window starts past the steep part
    WARMUP_OPS = 40
    #: 108 timed reads, so read_p90_ms has ten samples beyond it
    MIN_OPS = 120
    #: the schedule holds one write in every ten operations
    #: (gen.online_schedule) and the timed loop runs whole blocks of ten, so
    #: every run holds exactly 10 % writes
    BLOCK = 10

    def __init__(self, env: Env) -> None:
        super().__init__(env)
        self.eav = gen.eav_log(env.seed, self.N_ENTITIES, self.PER_KEY)
        self.ops = gen.online_schedule(env.seed, self.N_ENTITIES, self.MAX_OPS)
        self.server = None
        self.lru_hits = self.lru_lookups = 0

    def digest(self) -> str:
        return gen.schedule_digest(self.eav, [repr(o) for o in self.ops])

    def setup(self, rep: int) -> None:
        """Load the log into a new registry, then one read of an unknown
        entity builds the server's online table."""
        self.close()
        reg, fids = new_registry(self.spark, os.path.join(self.rep_dir(rep), "store"))
        with self.tracer.span("registry.ingest_values_df", "registry"):
            reg.ingest_values_df(values_frame(self.spark, self.eav, fids))
        self.server = FeatureServer(reg)
        with self.tracer.span("serving.warmup_read", "serving"):
            self.server.get_online_features("warmup", gen.ENTITY_TYPE, list(gen.FEATURES))

    def start_timing(self) -> None:
        """The LRU counters cover the timed loop only."""
        self.server.reset_metrics()

    def op(self, i: int) -> OpRecord:
        o = self.ops[i]
        names = list(gen.MODEL_LISTS[o.model])
        rec = OpRecord(i, o.kind, traced=self.tracer.enabled)
        with self.tracer.span("op", "bench", op=i):
            if o.kind == "read":
                with self.tracer.span("serving.get_online_features", "serving") as sp:
                    t0 = time.perf_counter()
                    vec = self.server.get_online_features(o.entity_id, gen.ENTITY_TYPE, names)
                    rec.latency_s = time.perf_counter() - t0
                    if sp is not None:
                        sp.attrs["hit"] = vec.cache_hit
            else:
                t0 = time.perf_counter()
                with self.tracer.span("serving.write_features", "serving"):
                    self.server.write_features(
                        o.entity_id, gen.ENTITY_TYPE, dict(zip(names, o.values)), timestamp=o.ts
                    )
                with self.tracer.span("serving.read_your_write", "serving"):
                    vec = self.server.get_online_features(o.entity_id, gen.ENTITY_TYPE, names)
                rec.latency_s = time.perf_counter() - t0
        rec.out = dict(vec.features)
        if o.kind == "read":
            rec.kind = "read_hit" if vec.cache_hit else "read_miss"
        return rec

    def check(self, records: list[OpRecord]) -> None:
        truth = {k: v for k, (v, _seq) in checks.latest_truth(self.eav).items()}
        for rec in records:
            o = self.ops[rec.index]
            names = gen.MODEL_LISTS[o.model]
            if o.kind == "write":
                for name, v in zip(names, o.values):
                    truth[(name, o.entity_id)] = v
            if rec.failed:
                continue
            want = {n: truth.get((n, o.entity_id)) for n in names}
            if checks.vector_mismatches(rec.out, want):
                rec.failed, rec.error = True, f"wrong vector for {o.entity_id}"

    def close(self) -> None:
        if self.server is not None:
            m = self.server.get_metrics()
            self.lru_hits = m["cache_hits"]
            self.lru_lookups = m["cache_hits"] + m["cache_misses"]
            self.server.invalidate_online_cache()
            self.server = None

    def details(self, records: list[OpRecord]) -> dict:
        ok = [r for r in records if not r.failed]
        reads = [r.latency_s * 1e3 for r in ok if r.kind.startswith("read")]
        misses = [r.latency_s * 1e3 for r in ok if r.kind == "read_miss"]
        writes = [r.latency_s * 1e3 for r in ok if r.kind == "write"]
        rs, ms, ws = summary(reads), summary(misses), summary(writes)
        busy = sum(r.latency_s for r in ok)
        out = {
            "read_p50_ms": (rs.get("p50", 0.0), "ms", rs["n"]),
            "read_miss_p50_ms": (ms.get("p50", 0.0), "ms", ms["n"]),
            "write_p50_ms": (ws.get("p50", 0.0), "ms", ws["n"]),
            "online_ops_per_s": (len(ok) / busy if busy else 0.0, "1/s", len(ok)),
            "lru_hit_ratio": (
                self.lru_hits / max(self.lru_lookups, 1),
                f"ratio ({self.lru_hits} hits / {self.lru_lookups} lookups)",
                self.lru_lookups,
            ),
        }
        if rs.get("tail_level", 50.0) > 50.0:
            out[f"read_p{rs['tail_level']:g}_ms"] = (rs["tail"], "ms", rs["n"])
        return out

    def per_layer(self, records: list[OpRecord], costs: dict[int, SparkCost]) -> dict:
        reads = [s for s in self.tracer.spans if s.name == "serving.get_online_features"]
        misses = [s for s in reads if not s.attrs.get("hit")]
        ryw = [s for s in self.tracer.spans if s.name == "serving.read_your_write"]
        return {
            "serving.online_hit_ms": (median(self.span_ms("serving.get_online_features", hit=True)), "ms"),
            "serving.online_miss_ms": (median(s.duration * 1e3 for s in misses), "ms"),
            "serving.lru_hit_ratio": (self.lru_hits / max(self.lru_lookups, 1), "ratio"),
            "serving.lru_lookups": (self.lru_lookups, "count"),
            "serving.jobs_per_miss": (mean(spark_cost(self.tracer, costs, s).jobs for s in misses), "count"),
            "serving.py4j_per_miss": (mean(s.py4j for s in misses), "count"),
            "serving.write_features_ms": (median(self.span_ms("serving.write_features")), "ms"),
            "serving.read_your_write_ms": (median(self.span_ms("serving.read_your_write")), "ms"),
            "serving.jobs_per_read_your_write": (mean(spark_cost(self.tracer, costs, s).jobs for s in ryw), "count"),
            "registry.ingest_values_df_s": (median(self.span_ms("registry.ingest_values_df")) / 1e3, "s"),
            "caching.storage_bytes": (median(self.storage_samples), "bytes"),
        }


# ---------------------------------------------------------------------------


class OfflineTraining(Workload):
    """Point-in-time training sets over a seeded spine, run to a noop sink."""

    name = "offline_training"
    primary = "train"
    N_ENTITIES = 1000
    PER_KEY = 4
    N_SPINES = 4
    SPINE_ROWS = 5000
    WARMUP_OPS = 2

    def __init__(self, env: Env) -> None:
        super().__init__(env)
        self.eav = gen.eav_log(env.seed, self.N_ENTITIES, self.PER_KEY)
        self.spine_pdfs = gen.spines(env.seed, self.N_ENTITIES, self.N_SPINES, self.SPINE_ROWS)
        self.server = None

    def digest(self) -> str:
        return gen.schedule_digest(self.eav, self.spine_pdfs)

    def setup(self, rep: int) -> None:
        reg, fids = new_registry(self.spark, os.path.join(self.rep_dir(rep), "store"))
        with self.tracer.span("registry.ingest_values_df", "registry"):
            reg.ingest_values_df(values_frame(self.spark, self.eav, fids))
        self.server = FeatureServer(reg)
        self.spines = [
            self.spark.createDataFrame(p, "entity_id string, event_timestamp timestamp_ntz")
            for p in self.spine_pdfs
        ]
        with self.tracer.span("serving.warmup_pit", "serving"):
            self._training_set(self.spines[0]).write.format("noop").mode("overwrite").save()

    def _training_set(self, spine):
        return self.server.get_point_in_time_features(spine, list(gen.FEATURES))

    def op(self, i: int) -> OpRecord:
        rec = OpRecord(i, "train", traced=self.tracer.enabled)
        spine = self.spines[i % self.N_SPINES]
        with self.tracer.span("op", "bench", op=i):
            t0 = time.perf_counter()
            with self.tracer.span("serving.get_point_in_time_features", "serving"):
                df = self._training_set(spine)
            if self.tracer.enabled:
                with self.tracer.span("spark.plan", "spark"):
                    df._jdf.queryExecution().executedPlan()
            with self.tracer.span("spark.exec", "spark"):
                df.write.format("noop").mode("overwrite").save()
            rec.latency_s = time.perf_counter() - t0
        rec.extra["spine"] = i % self.N_SPINES
        return rec

    def check(self, records: list[OpRecord]) -> None:
        """One full result per run: spine 0's training set, collected, vs
        the DuckDB as-of join.  A mismatch fails every op over spine 0."""
        cols = ["entity_id", "event_timestamp"]
        for f in gen.FEATURES:
            cols += [f, f"{f}__timestamp"]
        got = [tuple(r) for r in self._training_set(self.spines[0]).select(*cols).collect()]
        want = checks.asof_truth(self.eav, self.spine_pdfs[0], gen.FEATURES)
        if not checks.rows_match(got, want):
            for rec in records:
                if rec.extra.get("spine") == 0:
                    rec.failed, rec.error = True, "training set differs from the as-of oracle"

    def details(self, records: list[OpRecord]) -> dict:
        ok = [r for r in records if not r.failed]
        s = summary([r.latency_s for r in ok])
        busy = sum(r.latency_s for r in ok)
        return {
            "train_build_p50_s": (s.get("p50", 0.0), "s", s["n"]),
            "train_rows_per_s": (len(ok) * self.SPINE_ROWS / busy if busy else 0.0, "rows/s", len(ok)),
        }

    def per_layer(self, records: list[OpRecord], costs: dict[int, SparkCost]) -> dict:
        builds = [s for s in self.tracer.spans if s.name == "serving.get_point_in_time_features"]
        return {
            "serving.pit_build_s": (median(s.duration for s in builds), "s"),
            "serving.pit_plan_s": (median(self.span_ms("spark.plan")) / 1e3, "s"),
            "serving.pit_exec_s": (median(self.span_ms("spark.exec")) / 1e3, "s"),
            "serving.pit_py4j_cmds": (median(s.py4j for s in builds), "count"),
            "registry.ingest_values_df_s": (median(self.span_ms("registry.ingest_values_df")) / 1e3, "s"),
            "caching.storage_bytes": (median(self.storage_samples), "bytes"),
        }


# ---------------------------------------------------------------------------


class IngestMerge(Workload):
    """Micro-batches appended to the EAV log and merged into the latest
    table; a tenth of the rows arrive late and must lose."""

    name = "ingest_merge"
    primary = "batch"
    N_ENTITIES = 1500
    PER_KEY = 2
    BATCH_ROWS = 2000
    MAX_OPS = 40
    #: batch latency falls steeply over the first ten batches while the
    #: JVM compiles the merge path, then keeps drifting down slowly
    WARMUP_OPS = 10
    MIN_OPS = 16
    KEYS = ["feature_id", "entity_id"]
    TIEBREAK = ["created_timestamp", "seq"]

    def __init__(self, env: Env) -> None:
        super().__init__(env)
        self.base = gen.eav_log(env.seed, self.N_ENTITIES, self.PER_KEY, stream="ingest-base")
        self.batches, self.late_seqs = gen.ingest_batches(
            self.base, env.seed, self.MAX_OPS, self.BATCH_ROWS
        )
        self.arrow_bytes = [
            pa.Table.from_pandas(b, preserve_index=False).nbytes for b in self.batches
        ]

    def digest(self) -> str:
        return gen.schedule_digest(self.base, self.batches)

    def setup(self, rep: int) -> None:
        root = self.rep_dir(rep)
        self.log_dir = os.path.join(root, "log")
        self.registry, self.fids = new_registry(self.spark, self.log_dir)
        self.store = LatestStore(self.spark, os.path.join(root, "latest"))
        base = values_frame(self.spark, self.base, self.fids)
        with self.tracer.span("registry.ingest_values_df", "registry"):
            self.registry.ingest_values_df(base)
        with self.tracer.span("stores.merge", "stores"):
            self.store.merge(base, self.KEYS, "event_timestamp", tiebreak=self.TIEBREAK)
        self.applied = 0

    def _apply(self, df) -> None:
        with self.tracer.span("registry.ingest_values_df", "registry"):
            self.registry.ingest_values_df(df)
        with self.tracer.span("stores.merge", "stores"):
            self.store.merge(df, self.KEYS, "event_timestamp", tiebreak=self.TIEBREAK)

    def op(self, i: int) -> OpRecord:
        b = self.applied
        df = values_frame(self.spark, self.batches[b], self.fids)
        log_before = dir_bytes(self.log_dir)[0]
        rec = OpRecord(i, "batch", traced=self.tracer.enabled)
        with self.tracer.span("op", "bench", op=i):
            t0 = time.perf_counter()
            self._apply(df)
            rec.latency_s = time.perf_counter() - t0
        self.applied += 1
        snap_bytes, snap_files = dir_bytes(self.store.path + f"/v{self.store.versions()[-1]:06d}")
        rec.extra.update(
            batch=b,
            log_bytes=dir_bytes(self.log_dir)[0] - log_before,
            merge_bytes=snap_bytes,
            merge_files=snap_files,
            live_bytes=dir_bytes(self.store.path)[0],
            input_bytes=self.arrow_bytes[b],
        )
        return rec

    def check(self, records: list[OpRecord]) -> None:
        """The final snapshot vs a DuckDB latest-per-key over the base rows
        and every applied batch; no late row may hold a key.  Ops whose
        batch touched a wrong key are failed."""
        applied = pd.concat([self.base] + self.batches[: self.applied], ignore_index=True)
        truth = checks.latest_truth(applied)
        names = {fid: n for n, fid in self.fids.items()}
        got = {
            (names[r["feature_id"]], r["entity_id"]): (r["value_double"], r["seq"])
            for r in self.store.read().select("feature_id", "entity_id", "value_double", "seq").collect()
        }
        late = set().union(*(set(s.tolist()) for s in self.late_seqs[: self.applied]))
        bad = {k for k, v in truth.items() if got.get(k) != v}
        bad |= {k for k, (_v, seq) in got.items() if seq in late}
        bad |= set(got) - set(truth)
        if not bad:
            return
        for rec in records:
            batch = self.batches[rec.extra.get("batch", 0)]
            if any(k in bad for k in zip(batch["feature_name"], batch["entity_id"])):
                rec.failed, rec.error = True, "latest table differs from the guarded merge oracle"

    def details(self, records: list[OpRecord]) -> dict:
        ok = [r for r in records if not r.failed]
        s = summary([r.latency_s * 1e3 for r in ok])
        busy = sum(r.latency_s for r in ok)
        written = sum(r.extra["log_bytes"] + r.extra["merge_bytes"] for r in ok)
        read_in = sum(r.extra["input_bytes"] for r in ok)
        return {
            "merge_p50_ms": (s.get("p50", 0.0), "ms", s["n"]),
            "ingest_rows_per_s": (len(ok) * self.BATCH_ROWS / busy if busy else 0.0, "rows/s", len(ok)),
            "bytes_written_per_input_byte": (
                written / read_in if read_in else 0.0,
                f"ratio ({written} written / {read_in} arrow input bytes)",
                len(ok),
            ),
        }

    def per_layer(self, records: list[OpRecord], costs: dict[int, SparkCost]) -> dict:
        traced = [r for r in records if r.traced]
        op_ids = {r.index for r in traced}
        merges = [
            s for s in self.tracer.spans
            if s.name == "stores.merge" and s.op in op_ids
        ]
        ingests = [
            s.duration for s in self.tracer.spans
            if s.name == "registry.ingest_values_df" and s.op in op_ids
        ]
        return {
            "registry.ingest_values_df_s": (median(ingests), "s"),
            "registry.log_bytes_written": (median(r.extra["log_bytes"] for r in traced), "bytes"),
            "stores.merge_s": (median(s.duration for s in merges), "s"),
            "stores.merge_jobs": (mean(spark_cost(self.tracer, costs, s).jobs for s in merges), "count"),
            "stores.merge_bytes_written": (median(r.extra["merge_bytes"] for r in traced), "bytes"),
            "stores.merge_files_written": (median(r.extra["merge_files"] for r in traced), "count"),
            "stores.live_bytes": (median(r.extra["live_bytes"] for r in traced), "bytes"),
            "caching.storage_bytes": (median(self.storage_samples), "bytes"),
        }


# ---------------------------------------------------------------------------


class CatalogOperators(Workload):
    """Passes over a fixed list of catalog entries, each collected and
    compared with its DuckDB oracle."""

    name = "catalog_operators"
    primary = "pass"
    ENTRIES = CATALOG_ENTRIES
    SIZE = gen.CatalogSize()
    #: pass latency still falls over the first passes after set-up
    WARMUP_OPS = 2
    MIN_OPS = 8

    def __init__(self, env: Env) -> None:
        super().__init__(env)
        self.tables = gen.catalog_tables(env.seed, self.SIZE)
        self.fns = {n: catalog.queries()[n] for n in self.ENTRIES}
        self.oracles = {n: catalog.oracle_sql().get(n) for n in self.ENTRIES}
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def digest(self) -> str:
        return gen.schedule_digest([self.tables[k] for k in sorted(self.tables)], list(self.ENTRIES))

    def stage_inputs(self, reps: int) -> None:
        """Write one copy of the tables per set-up rep: a new directory
        starts every path-keyed cache (schema memo, plan caches, stored
        indexes) cold again."""
        self.sf_dirs = [os.path.join(self.rep_dir(r), "sf") for r in range(reps)]
        for d in self.sf_dirs:
            gen.write_tables(self.tables, d)

    def setup(self, rep: int) -> None:
        self.sf_dir = self.sf_dirs[rep]
        self._pass(op=None)

    def _pass(self, op: int | None) -> dict[str, tuple[list[str], list[tuple]]]:
        out = {}
        for name in self.ENTRIES:
            with self.tracer.span("queries.build", "queries", op=op, entry=name):
                df = self.fns[name](self.spark, self.sf_dir)
            if self.tracer.enabled:
                with self.tracer.span("spark.plan", "spark", op=op, entry=name):
                    df._jdf.queryExecution().executedPlan()
            with self.tracer.span("spark.exec", "spark", op=op, entry=name):
                rows = [tuple(r) for r in df.collect()]
            out[name] = (df.columns, rows)
        return out

    def op(self, i: int) -> OpRecord:
        rec = OpRecord(i, "pass", traced=self.tracer.enabled)
        with self.tracer.span("op", "bench", op=i):
            t0 = time.perf_counter()
            rec.out = self._pass(op=i)
            rec.latency_s = time.perf_counter() - t0
        return rec

    def _expected(self, name: str):
        if name not in self.expected:
            con = duckdb.connect()
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            self.expected[name] = checks.oracle_rows(con, self.oracles[name])
            con.close()
        return self.expected[name]

    def entry_ok(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        want_cols, want_rows = self._expected(name)
        return checks.catalog_match(cols, rows, want_cols, want_rows)

    def check(self, records: list[OpRecord]) -> None:
        for rec in records:
            if rec.failed:
                continue
            wrong = [n for n, (c, r) in rec.out.items() if not self.entry_ok(n, c, r)]
            if wrong:
                rec.failed, rec.error = True, f"wrong output: {', '.join(wrong)}"
            rec.out = None

    def details(self, records: list[OpRecord]) -> dict:
        ok = [r for r in records if not r.failed]
        s = summary([r.latency_s for r in ok])
        return {"catalog_pass_s": (s.get("p50", 0.0), "s", s["n"])}

    def per_layer(self, records: list[OpRecord], costs: dict[int, SparkCost]) -> dict:
        op_ids = {r.index for r in records if r.traced}
        out = {}
        for name in self.ENTRIES:
            spans = {
                kind: [
                    s for s in self.tracer.spans
                    if s.name == kind and s.attrs.get("entry") == name and s.op in op_ids
                ]
                for kind in ("queries.build", "spark.plan", "spark.exec")
            }
            cost = SparkCost()
            for group in spans.values():
                for s in group:
                    cost.add(costs.get(s.id, SparkCost()))
            n = max(len(spans["queries.build"]), 1)
            out.update(
                {
                    f"queries.{name}.build_s": (median(s.duration for s in spans["queries.build"]), "s"),
                    f"queries.{name}.plan_s": (median(s.duration for s in spans["spark.plan"]), "s"),
                    f"queries.{name}.exec_s": (median(s.duration for s in spans["spark.exec"]), "s"),
                    f"queries.{name}.py4j_cmds": (median(s.py4j for s in spans["queries.build"]), "count"),
                    f"queries.{name}.jobs": (cost.jobs / n, "count"),
                    f"queries.{name}.tasks": (cost.tasks / n, "count"),
                    f"queries.{name}.python_worker_start_s": (cost.python_worker_start_s / n, "s"),
                }
            )
        out["caching.storage_bytes"] = (median(self.storage_samples), "bytes")
        return out


WORKLOADS = {w.name: w for w in (OnlineServing, OfflineTraining, IngestMerge, CatalogOperators)}
