"""Seeded input generator for the feature-store benchmark.

Every table is a pure function of ``(seed, sizes)``: numpy's PCG64 drives
all draws and pyarrow writes the parquet files with fixed row-group
sizes, so one seed gives byte-identical files and ``fingerprint`` gives
the same digest. The program under test only ever sees these files.

Three input sets:

* ``store_inputs``  users, a timestamped event log, a per-segment daily
  table and a labelled spine (the ``pit_training`` workload);
* ``refresh_inputs`` plus ``refresh_batch``  a base event log and the
  batches landed one per cycle (the ``refresh_serve`` workload); batch
  ``k`` depends only on ``(seed, k)``, never on how many came before;
* ``sf_tables``  the ten source tables the query registry reads
  (region ... embeddings), with the schemas and value domains of the
  engine's own test data (the query mix inside ``pit_training``).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
# 2024-01-01T00:00:00Z in microseconds since the epoch
EPOCH_2024_US = 1_704_067_200 * 1_000_000
SEGMENTS = [f"seg{i}" for i in range(8)]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
ROW_GROUP = 64 * 1024


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) — adding a draw to one
    table never shifts another table's values."""
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=ROW_GROUP, compression="snappy")
    return path


def _ts(us: np.ndarray, tz: str | None = "UTC") -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us", tz=tz))


def _cents(rng: np.random.Generator, n: int, scale: float = 50.0) -> np.ndarray:
    """Positive two-decimal amounts (exactly representable as DECIMAL)."""
    return np.round(rng.exponential(scale, n) + 0.01, 2)


def _tags(rng: np.random.Generator, n: int) -> np.ndarray:
    """Random 12-character hex strings."""
    codes = rng.integers(0, 16, size=(n, 12))
    return np.frombuffer(b"0123456789abcdef", dtype="S1")[codes].view("S12").ravel().astype("U12")


def _event_times(rng: np.random.Generator, n: int, start_us: int, span_us: int) -> np.ndarray:
    """Strictly increasing, distinct timestamps spread over the span: an
    append-only log, and no two rows of one key share a timestamp (so a
    point-in-time lookup has exactly one right answer)."""
    step = span_us // n
    return start_us + np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)


def events_table(
    rng: np.random.Generator,
    n: int,
    n_users: int,
    start_us: int,
    span_us: int,
    first_id: int = 0,
    tz: str | None = "UTC",
) -> pa.Table:
    ts = _event_times(rng, n, start_us, span_us)
    users = rng.integers(0, n_users, n)
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts, tz),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(etype, type=pa.string()),
            "value": pa.array(_cents(rng, n)),
            "v1": pa.array(rng.standard_normal(n)),
            "v2": pa.array(rng.standard_normal(n)),
            "v3": pa.array(rng.standard_normal(n)),
            "tag": pa.array(_tags(rng, n), type=pa.string()),
        }
    )


# ----------------------------------------------------------------------
# pit_training
# ----------------------------------------------------------------------
def store_inputs(seed: int, out_dir: str, n_users: int, n_events: int, n_spine: int, days: int) -> dict:
    """Users, events over ``days`` days, the per-segment daily table and
    a spine of ``(user_id, segment, event_time, label)`` rows."""
    span = days * DAY_US
    r = rng_for(seed, 1)
    segment_of = np.array(SEGMENTS, dtype=object)[r.integers(0, len(SEGMENTS), n_users)]
    users = pa.table(
        {
            "user_id": pa.array(np.arange(n_users, dtype=np.int64)),
            "segment": pa.array(segment_of, type=pa.string()),
            "tenure_days": pa.array(r.integers(0, 2000, n_users).astype(np.int32)),
            "plan": pa.array(
                np.array(["free", "pro", "team"], dtype=object)[r.integers(0, 3, n_users)],
                type=pa.string(),
            ),
        }
    )
    events = events_table(rng_for(seed, 2), n_events, n_users, EPOCH_2024_US, span)

    r = rng_for(seed, 3)
    seg_days = np.repeat(np.arange(days, dtype=np.int64), len(SEGMENTS))
    seg_daily = pa.table(
        {
            "segment": pa.array(SEGMENTS * days, type=pa.string()),
            "seg_day": _ts(EPOCH_2024_US + seg_days * DAY_US),
            "seg_ctr": pa.array(np.round(r.uniform(0, 1, len(seg_days)), 6)),
            "seg_spend": pa.array(_cents(r, len(seg_days), 1000.0)),
        }
    )

    r = rng_for(seed, 4)
    spine_users = r.integers(0, n_users, n_spine)
    # spine times start one day in so most rows have history behind them
    spine_ts = _event_times(r, n_spine, EPOCH_2024_US + DAY_US, span)
    spine_ts = spine_ts[r.permutation(n_spine)]
    spine = pa.table(
        {
            "user_id": pa.array(spine_users.astype(np.int64)),
            "segment": pa.array(segment_of[spine_users], type=pa.string()),
            "event_time": _ts(spine_ts),
            "label": pa.array(r.integers(0, 2, n_spine).astype(np.int32)),
        }
    )
    return {
        "users": write_table(users, os.path.join(out_dir, "users", "part-0.parquet")),
        "events": write_table(events, os.path.join(out_dir, "events", "part-0.parquet")),
        "segment_daily": write_table(
            seg_daily, os.path.join(out_dir, "segment_daily", "part-0.parquet")
        ),
        "spine": write_table(spine, os.path.join(out_dir, "spine", "part-0.parquet")),
    }


def sample_rows(seed: int, n_rows: int, k: int) -> np.ndarray:
    """Seeded sample of ``k`` row indexes out of ``n_rows`` (sorted)."""
    return np.sort(rng_for(seed, 5).choice(n_rows, size=min(k, n_rows), replace=False))


# ----------------------------------------------------------------------
# refresh_serve
# ----------------------------------------------------------------------
def refresh_inputs(seed: int, out_dir: str, n_users: int, n_base: int, base_days: int) -> dict:
    events = events_table(
        rng_for(seed, 10), n_base, n_users, EPOCH_2024_US, base_days * DAY_US
    )
    return {"events": write_table(events, os.path.join(out_dir, "part-base.parquet"))}


def refresh_batch(
    seed: int, k: int, n_users: int, n_batch: int, n_base: int, base_days: int
) -> pa.Table:
    """Batch ``k`` (0-based): the next hour of events after the base log
    and the batches before it; event ids continue the base numbering."""
    hour = DAY_US // 24
    start = EPOCH_2024_US + base_days * DAY_US + k * hour
    return events_table(
        rng_for(seed, 11, k), n_batch, n_users, start, hour, first_id=n_base + k * n_batch
    )


def zipf_keys(seed: int, k: int, n: int, n_users: int, absent: float) -> list[int]:
    """``n`` lookup keys for burst ``k``: Zipf-skewed over a seeded
    permutation of the users, with a share ``absent`` of ids no user has."""
    r = rng_for(seed, 12, k)
    perm = rng_for(seed, 13).permutation(n_users)
    ranks = (r.zipf(1.2, n) - 1) % n_users
    keys = perm[ranks].astype(np.int64)
    miss = r.random(n) < absent
    keys[miss] = n_users + r.integers(0, n_users, int(miss.sum()))
    return [int(x) for x in keys]


def serving_spine(seed: int, n: int, n_users: int) -> pa.Table:
    r = rng_for(seed, 14)
    return pa.table({"user_id": pa.array(r.integers(0, n_users + n_users // 20, n).astype(np.int64))})


# ----------------------------------------------------------------------
# the query mix: the ten registry source tables
# ----------------------------------------------------------------------
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    for _ in range(n):
        if texts and r.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(r.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(10, 100)))]))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"], dtype=object)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs[r.integers(0, len(langs), n)], type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def sf_tables(seed: int, out_dir: str, sf: float) -> dict:
    """The registry's ten source tables at scale ``sf`` (row counts of
    the engine's test data: 150k customers, 1.5M orders, 6M line items,
    1M events per unit of sf)."""
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(int(10_000 * sf), 10)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_docs, n_vec = int(50_000 * sf), int(50_000 * sf)
    paths: dict[str, str] = {}

    def put(name: str, table: pa.Table) -> None:
        paths[name] = write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    put(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
    )
    put(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
    )
    r = rng_for(seed, 20)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    put(
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": pa.array(segs[r.integers(0, 5, n_cust)], type=pa.string()),
            }
        ),
    )
    r = rng_for(seed, 21)
    put(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
    )
    r = rng_for(seed, 22)
    adj = np.array(["small", "large", "bright", "dark", "shiny", "matte", "light", "heavy"], dtype=object)
    noun = np.array(["ring", "bolt", "gear", "pipe", "valve", "panel", "plate", "rod"], dtype=object)
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
    put(
        "part",
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    adj[r.integers(0, 8, n_part)] + " " + noun[r.integers(0, 8, n_part)],
                    type=pa.string(),
                ),
                "p_brand": pa.array(
                    np.array([f"Brand#{i}" for i in range(25)], dtype=object)[r.integers(0, 25, n_part)],
                    type=pa.string(),
                ),
                "p_type": pa.array(ptypes[r.integers(0, 6, n_part)], type=pa.string()),
                "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)),
            }
        ),
    )
    r = rng_for(seed, 23)
    day0 = 788_918_400 * 1_000_000  # 1995-01-01
    odays = r.integers(0, 2400, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    put(
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
                "o_orderstatus": pa.array(
                    np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, n_ord)], type=pa.string()
                ),
                "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, n_ord), 2)),
                "o_orderdate": _ts(day0 + odays * DAY_US, None),
                "o_orderpriority": pa.array(prio[r.integers(0, 5, n_ord)], type=pa.string()),
            }
        ),
    )
    r = rng_for(seed, 24)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    okeys = r.integers(0, n_ord, n_li).astype(np.int64)
    put(
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(okeys),
                "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
                "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
                "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2100, n_li), 2)),
                "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(
                    np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n_li)], type=pa.string()
                ),
                "l_linestatus": pa.array(
                    np.array(["F", "O"], dtype=object)[r.integers(0, 2, n_li)], type=pa.string()
                ),
                "l_shipdate": _ts(day0 + (odays[okeys] + r.integers(1, 100, n_li)) * DAY_US, None),
            }
        ),
    )
    r = rng_for(seed, 25)
    ev = events_table(r, n_ev, n_users, EPOCH_2024_US, 30 * DAY_US, tz=None).select(
        ["event_id", "ts", "user_id", "event_type", "value"]
    )
    props = np.array([f'{{"k": {i}}}' for i in range(100)], dtype=object)[r.integers(0, 100, n_ev)]
    put("events", ev.append_column("props", pa.array(props, type=pa.string())))
    put("documents", _documents(rng_for(seed, 26), n_docs))
    r = rng_for(seed, 27)
    emb = r.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": pa.array(r.integers(0, 10, n_vec).astype(np.int32)),
            }
        ),
    )
    return paths


def fingerprint(paths: dict) -> str:
    """SHA-256 over every generated file's name and bytes."""
    h = hashlib.sha256()
    for name in sorted(paths):
        h.update(name.encode())
        with open(paths[name], "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
