"""Seeded input generators for the benchmark workloads.

Everything the library sees is made here from ``--seed``: the EAV value log,
the online operation schedule, the training spines, the ingest micro-batches
and the catalog tables.  The same seed gives the same inputs, byte for byte;
:func:`schedule_digest` hashes them so two runs can be compared by eye.
Nothing in this module imports pyspark or the package under test.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ENTITY_TYPE = "user"
#: one FLOAT64 feature per event type, as in the repo's ``events`` table
FEATURES = ("click", "view", "purchase", "error", "login")
#: the three fixed feature lists the online "models" ask for
MODEL_LISTS = (
    ("click", "view", "purchase"),
    ("error", "login"),
    FEATURES,
)
LOG_START = datetime(2024, 1, 1)
LOG_DAYS = 30
#: online writes and ingest batches are stamped after the whole base log
WRITE_START = LOG_START + timedelta(days=LOG_DAYS + 1)

def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per input stream, so adding a stream never
    shifts the draws of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def entity_name(i: int) -> str:
    return f"u{i:05d}"


def eav_log(seed: int, n_entities: int, per_key: int, stream: str = "eav") -> pd.DataFrame:
    """``per_key`` observations of every (feature, entity) key spread over
    the 30-day log window.  About 5 % of keys get an exact event-time tie
    on their newest value, half of those also tied on created time, so the
    (event_ts, created_ts, seq) tiebreak decides real cases."""
    rng = rng_for(seed, stream)
    n_keys = len(FEATURES) * n_entities
    n = n_keys * per_key
    feat = np.repeat(np.arange(len(FEATURES)), n_entities * per_key)
    ent = np.tile(np.repeat(np.arange(n_entities), per_key), len(FEATURES))
    ev = rng.integers(0, LOG_DAYS * 86400, size=n)
    lag = rng.integers(1, 3600, size=n)
    tie = rng.random(n_keys) < 0.05
    for k in np.flatnonzero(tie):
        rows = slice(k * per_key, (k + 1) * per_key)
        block_ev, block_lag = ev[rows], lag[rows]
        top = int(np.argmax(block_ev))
        other = (top + 1) % per_key
        block_ev[other] = block_ev[top]
        if rng.random() < 0.5:
            block_lag[other] = block_lag[top]
    values = np.round(rng.normal(50.0, 20.0, size=n), 3)
    event_ts = LOG_START + pd.to_timedelta(ev, unit="s")
    return pd.DataFrame(
        {
            "feature_name": np.array(FEATURES)[feat],
            "entity_id": [entity_name(i) for i in ent],
            "value_double": values,
            "event_timestamp": event_ts,
            "created_timestamp": event_ts + pd.to_timedelta(lag, unit="s"),
            "seq": np.arange(n, dtype=np.int64),
        }
    )


def zipf_entities(
    rng: np.random.Generator, n_entities: int, n: int, s: float = 1.1
) -> np.ndarray:
    """Bounded zipf(s) draws over a seeded permutation of the entities, so
    which entities are hot changes with the seed."""
    ranks = np.arange(1, n_entities + 1, dtype=float)
    p = ranks**-s
    p /= p.sum()
    perm = rng.permutation(n_entities)
    return perm[rng.choice(n_entities, size=n, p=p)]


@dataclass(frozen=True)
class OnlineOp:
    kind: str  # "read" | "write"
    entity_id: str
    model: int  # index into MODEL_LISTS
    #: write only: the written values, in MODEL_LISTS[model] order
    values: tuple[float, ...] = ()
    #: write only: the event time stamped on the written values
    ts: datetime | None = None


def online_schedule(
    seed: int, n_entities: int, n_ops: int, write_share: float = 0.1
) -> list[OnlineOp]:
    """The closed-loop client's operations, in order: zipf(1.1) entities,
    a uniform choice among the model feature lists, and one write (followed
    by a read-your-write of the same entity and list) at a random place in
    every block of ``1 / write_share`` operations, so any stretch of the
    schedule holds the same share of writes."""
    rng = rng_for(seed, "online")
    ents = zipf_entities(rng, n_entities, n_ops)
    models = rng.integers(0, len(MODEL_LISTS), size=n_ops)
    block = round(1 / write_share)
    writes = np.zeros(n_ops, dtype=bool)
    starts = np.arange(0, n_ops, block)
    picks = starts + rng.integers(0, block, size=len(starts))
    writes[picks[picks < n_ops]] = True
    ops = []
    for i in range(n_ops):
        model = int(models[i])
        eid = entity_name(int(ents[i]))
        if writes[i]:
            vals = tuple(
                float(v) for v in np.round(rng.normal(50.0, 20.0, len(MODEL_LISTS[model])), 3)
            )
            ops.append(OnlineOp("write", eid, model, vals, WRITE_START + timedelta(seconds=i)))
        else:
            ops.append(OnlineOp("read", eid, model))
    return ops


def spines(seed: int, n_entities: int, n_spines: int, rows: int) -> list[pd.DataFrame]:
    """Training spines: (entity_id, event_timestamp) rows drawn uniformly
    over the entities and over a window one day wider than the log on the
    early side, so some rows precede every value and must null-fill."""
    rng = rng_for(seed, "spines")
    out = []
    for _ in range(n_spines):
        ent = rng.integers(0, n_entities, size=rows)
        ts = LOG_START + pd.to_timedelta(
            rng.integers(-86400, LOG_DAYS * 86400, size=rows), unit="s"
        )
        out.append(
            pd.DataFrame(
                {"entity_id": [entity_name(i) for i in ent], "event_timestamp": ts}
            )
        )
    return out


def ingest_batches(
    base: pd.DataFrame, seed: int, n_batches: int, rows: int, late_share: float = 0.1
) -> tuple[list[pd.DataFrame], list[np.ndarray]]:
    """Micro-batches for the merge workload.  On-time rows carry event
    times past everything before them; ``late_share`` of the rows are late:
    older than the value the store holds for their key when the batch
    lands, so the merge guard must reject them.  Returns the batches and,
    per batch, the ``seq`` numbers of its late rows."""
    rng = rng_for(seed, "ingest")
    latest = (
        base.sort_values(["event_timestamp", "created_timestamp", "seq"])
        .groupby(["feature_name", "entity_id"])["event_timestamp"]
        .last()
    )
    key_feature = latest.index.get_level_values(0).to_numpy()
    key_entity = latest.index.get_level_values(1).to_numpy()
    newest = latest.to_numpy().astype("datetime64[us]")
    seq = int(base["seq"].max()) + 1
    clock = np.datetime64(WRITE_START, "us")
    step = np.timedelta64(600, "s")
    batches, late_seqs = [], []
    for _ in range(n_batches):
        picks = rng.integers(0, len(newest), size=rows)
        late = rng.random(rows) < late_share
        on_time_ts = clock + rng.integers(0, 600, size=rows).astype("timedelta64[s]")
        late_ts = newest[picks] - rng.integers(1, 86400, size=rows).astype("timedelta64[s]")
        ts = np.where(late, late_ts, on_time_ts)
        seqs = np.arange(seq, seq + rows, dtype=np.int64)
        batches.append(
            pd.DataFrame(
                {
                    "feature_name": key_feature[picks],
                    "entity_id": key_entity[picks],
                    "value_double": np.round(rng.normal(50.0, 20.0, size=rows), 3),
                    "event_timestamp": pd.to_datetime(ts),
                    "created_timestamp": pd.to_datetime(np.full(rows, clock + step)),
                    "seq": seqs,
                }
            )
        )
        late_seqs.append(seqs[late])
        # the store's guard compares against the value it held BEFORE the
        # batch, so on-time rows move `newest` only once the batch is done
        np.maximum.at(newest, picks[~late], on_time_ts[~late])
        seq += rows
        clock += step
    return batches, late_seqs


# -- catalog tables ----------------------------------------------------------

#: the vocabulary of the repo's own ``documents`` table, so the catalog's
#: fixed BM25 query terms all hit
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")


@dataclass(frozen=True)
class CatalogSize:
    customers: int = 150
    suppliers: int = 20
    orders: int = 1500
    lineitems: int = 6000
    documents: int = 300


def catalog_tables(seed: int, size: CatalogSize) -> dict[str, pa.Table]:
    """The tables the catalog entries read: a TPC-H-shaped star schema and
    ``documents``, with the column names and types of the repo's test
    data."""
    rng = rng_for(seed, "catalog")
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(regions, s)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
    }
    nc, ns = size.customers, size.suppliers
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2), f64),
            "c_mktsegment": pa.array(
                rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc), s
            ),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2), f64),
        }
    )
    no, nl = size.orders, size.lineitems
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    odate = day0 + rng.integers(0, 7 * 365, no).astype("timedelta64[D]")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, no), 2), f64),
            "o_orderdate": pa.array(odate, ts),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no), s),
        }
    )
    lok = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, i64),
            "l_partkey": pa.array(rng.integers(0, 2000, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, nl), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
            "l_shipdate": pa.array(
                odate[lok] + rng.integers(1, 122, nl).astype("timedelta64[D]"), ts
            ),
        }
    )
    out["documents"] = _documents(rng, size.documents)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; every 7th is a near-copy of an earlier one
    (one word changed, tagged ``dup``) so the dedup entries find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 7 and i % 7 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One single-file parquet per table, the layout ``load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def schedule_digest(*parts) -> str:
    """sha256 over the generated inputs (frames, tables and op lists)."""
    h = hashlib.sha256()
    for part in parts:
        if isinstance(part, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(part, index=False).values.tobytes())
            h.update(",".join(part.columns).encode())
        elif isinstance(part, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, part.schema) as writer:
                writer.write_table(part)
            h.update(sink.getvalue().to_pybytes())
        elif isinstance(part, (list, tuple)):
            h.update(schedule_digest(*part).encode())
        else:
            h.update(repr(part).encode())
    return h.hexdigest()
