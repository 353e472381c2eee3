"""The two benchmark workloads, driven through the public store API.

Each workload has the same life cycle, called by ``run.py``:
``generate`` (inputs from the seed, untimed), ``setup`` (timed, repeated),
``warmup`` (untimed), ``cycle`` (timed operations, then untimed output
checks) and ``e2e`` (the per-workload latencies, reported by the traced
run). Output checks add to ``attempted`` / ``failed``; a wrong output
counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

VERSION = "1"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


def table_hash(df, cols=None):
    """(row count, order-independent hash) of a DataFrame's rows."""
    cols = sorted(cols or df.columns)
    quoted = ", ".join(f"`{c}`" for c in cols)
    row = df.selectExpr(
        "count(*) AS n", f"sum(CAST(xxhash64({quoted}) AS DECIMAL(38,0))) AS h"
    ).collect()[0]
    return int(row["n"]), row["h"]


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.verify_s = 0.0

    @contextlib.contextmanager
    def verifying(self):
        """Output checks run outside every timer; their time is reported."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.verify_s += time.perf_counter() - t0

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a wrong output is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 5:
                self.problems.append(what)

    def store(self, rep: int):
        from dbt_snowflake_feature_store_spark import FeatureStore

        root = os.path.join(self.work, f"store{rep}")
        self.tracer.store_root = root
        return FeatureStore(self.spark, root, name="BENCH")


# ----------------------------------------------------------------------
class PitTraining(Workload):
    """Repeated point-in-time training sets over four feature views, each
    followed by one sweep of the query mix (``QuerySweep``)."""

    name = "pit_training"
    N_USERS, N_EVENTS, N_SPINE, DAYS, N_CHECK = 5_000, 300_000, 10_000, 14, 1000

    def generate(self) -> dict:
        self.paths = gen.store_inputs(
            self.seed, os.path.join(self.work, "in"), self.N_USERS, self.N_EVENTS, self.N_SPINE, self.DAYS
        )
        self.mix = QuerySweep(self)
        return {**self.paths, **{f"sf/{k}": v for k, v in self.mix.generate().items()}}

    def setup(self, rep: int) -> None:
        from dbt_snowflake_feature_store_spark import Entity, FeatureView, RefreshSpec

        fs = self.store(rep)
        for src in ("events", "users", "segment_daily"):
            fs.register_source(src, os.path.dirname(self.paths[src]))
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_entity(Entity("segment", ["segment"]))
        specs = [
            FeatureView(
                "raw_events", ["user"], timestamp_col="ts",
                sql="SELECT user_id, ts, value AS f_value, v1 AS f_v1, v2 AS f_v2,"
                " v3 AS f_v3, tag AS f_tag FROM events",
            ),
            FeatureView(
                "user_daily", ["user"], timestamp_col="day_ts",
                sql="SELECT user_id, date_trunc('DAY', ts) AS day_ts, COUNT(*) AS f_day_n,"
                " SUM(CAST(value AS DECIMAL(18,2))) AS f_day_sum FROM events"
                " GROUP BY user_id, date_trunc('DAY', ts)",
                refresh=RefreshSpec("1 day", "FULL", "ON_CREATE"),
            ),
            FeatureView(
                "segment_daily", ["segment"], timestamp_col="seg_day",
                sql="SELECT segment, seg_day, seg_ctr AS f_seg_ctr, seg_spend AS f_seg_spend"
                " FROM segment_daily",
            ),
            FeatureView(
                "user_attrs", ["user"],
                sql="SELECT user_id, tenure_days AS f_tenure, plan AS f_plan FROM users",
            ),
        ]
        self.fvs = [fs.register_feature_view(fv, VERSION) for fv in specs]
        self.fs = fs
        self.spine = self.spark.read.parquet(self.paths["spine"])
        self.n = 0
        self.mix.setup()

    def _dataset(self):
        name = f"ds_{self.n}"
        self.n += 1
        ds = self.fs.generate_dataset(
            name, self.spine, self.fvs, spine_timestamp_col="event_time", spine_label_cols=["label"]
        )
        return name, ds

    def warmup(self) -> None:
        name, ds = self._dataset()
        self.fs.delete_dataset(name, VERSION)
        self.mix.warmup()

    def cycle(self) -> None:
        with self.tracer.op("dataset") as op:
            name, ds = self._dataset()
        self.sample("dataset_s", op.wall)
        self.sample("cycle_s", op.wall + self.mix.sweep())
        with self.verifying():
            out = self.spark.read.parquet(ds.path)
            self.check(out.count() == self.N_SPINE, f"{name}: spine row count changed")
            if self.tracer.cycle == 0:
                self.check_pit(out)
        self.fs.delete_dataset(name, VERSION)

    # -- brute-force point-in-time check ------------------------------
    def check_pit(self, out) -> None:
        """A seeded sample of spine rows against a brute-force latest
        ``ts <= event_time`` per feature view."""
        from pyspark.sql import functions as F

        def cols(name, *names):
            t = pq.read_table(self.paths[name])
            return [
                t.column(c).cast(pa.int64()).to_numpy() if pa.types.is_timestamp(t.schema.field(c).type)
                else t.column(c).to_numpy(zero_copy_only=False)
                for c in names
            ]

        s_user, s_time = cols("spine", "user_id", "event_time")
        idx = gen.sample_rows(self.seed, len(s_user), self.N_CHECK)
        want = list(zip(s_user[idx].tolist(), s_time[idx].tolist()))
        keys = self.spark.createDataFrame(want, "user_id long, t_us long")
        got = (
            out.withColumn("t_us", F.unix_micros("event_time"))
            .join(F.broadcast(keys), ["user_id", "t_us"])
            .collect()
        )
        rows = {(r["user_id"], r["t_us"]): r for r in got}

        e_user, e_ts, value, v1, v2, v3, tag = cols("events", "user_id", "ts", "value", "v1", "v2", "v3", "tag")
        order = np.lexsort((e_ts, e_user))
        su, st = e_user[order], e_ts[order]
        cell = e_user * self.DAYS + (e_ts - gen.EPOCH_2024_US) // gen.DAY_US
        cells, inv, n_day = np.unique(cell, return_inverse=True, return_counts=True)
        cents_day = np.bincount(inv, weights=np.rint(value * 100))
        daily = {
            (int(c) // self.DAYS, int(c) % self.DAYS): (int(n), int(round(x)))
            for c, n, x in zip(cells, n_day, cents_day)
        }
        seg_ctr, seg_spend = cols("segment_daily", "seg_ctr", "seg_spend")
        u_seg, tenure, plan = cols("users", "segment", "tenure_days", "plan")

        bad = 0
        for u, t in want:
            r = rows.get((u, t))
            if r is None:
                bad += 1
                continue
            lo, hi = np.searchsorted(su, u, "left"), np.searchsorted(su, u, "right")
            j = lo + np.searchsorted(st[lo:hi], t, "right") - 1
            e = order[j] if j >= lo else None
            exp = {
                f: (None if e is None else getattr(col[e], "item", lambda c=col[e]: c)())
                for f, col in (("f_value", value), ("f_v1", v1), ("f_v2", v2), ("f_v3", v3), ("f_tag", tag))
            }
            day = (t - gen.EPOCH_2024_US) // gen.DAY_US
            d, agg = day, None
            while d >= 0 and agg is None:
                agg = daily.get((u, d))
                d -= 1
            exp["f_day_n"] = agg[0] if agg else None
            exp["f_day_sum"] = Decimal(agg[1]).scaleb(-2) if agg else None
            # every segment has a row for every generated day
            k = min(day, self.DAYS - 1) * len(gen.SEGMENTS) + gen.SEGMENTS.index(u_seg[u])
            exp["f_seg_ctr"], exp["f_seg_spend"] = seg_ctr[k].item(), seg_spend[k].item()
            exp["f_tenure"], exp["f_plan"] = int(tenure[u]), plan[u]
            if any(r[f] != v for f, v in exp.items()):
                bad += 1
        self.check(bad == 0, f"point-in-time check: {bad} of {len(want)} sampled rows wrong")

    def e2e(self) -> dict:
        return {"dataset_s": median(self.samples.get("dataset_s", [])), **self.mix.e2e()}


# ----------------------------------------------------------------------
class RefreshServe(Workload):
    """Land a batch, refresh three managed views, export, serve."""

    name = "refresh_serve"
    N_USERS, N_BASE, BASE_DAYS, N_BATCH = 5_000, 50_000, 30, 5_000
    N_LOOKUPS, N_RETRIEVE, ABSENT = 12, 2_000, 0.05
    SQL = {
        "purchases": "SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS f_amount"
        " FROM {src} WHERE event_type = 'purchase'",
        "user_totals": "SELECT user_id, COUNT(*) AS f_n, SUM(CAST(value AS DECIMAL(18,2))) AS f_sum,"
        " MAX(ts) AS f_last_ts FROM {src} GROUP BY user_id",
        "user_daily": "SELECT user_id, date_trunc('DAY', ts) AS day_ts, COUNT(*) AS f_day_n,"
        " SUM(CAST(value AS DECIMAL(18,2))) AS f_day_sum FROM {src}"
        " GROUP BY user_id, date_trunc('DAY', ts)",
    }

    def generate(self) -> dict:
        self.src = os.path.join(self.work, "in", "events_rs")
        self.paths = gen.refresh_inputs(self.seed, self.src, self.N_USERS, self.N_BASE, self.BASE_DAYS)
        self.landed = 0
        return self.paths

    def setup(self, rep: int) -> None:
        from dbt_snowflake_feature_store_spark import Entity, FeatureView, RefreshSpec

        fs = self.store(rep)
        fs.register_source("events_rs", self.src)
        fs.register_entity(Entity("user", ["user_id"]))
        modes = {"purchases": "INCREMENTAL", "user_totals": "INCREMENTAL", "user_daily": "FULL"}
        ts = {"purchases": "ts", "user_daily": "day_ts"}
        for name, sql in self.SQL.items():
            fs.register_feature_view(
                FeatureView(
                    name, ["user"], timestamp_col=ts.get(name), sql=sql.format(src="events_rs"),
                    refresh=RefreshSpec("1 minute", modes[name], "ON_SCHEDULE"),
                ),
                VERSION,
            )
        self.fs = fs
        self.spine = self.spark.createDataFrame(gen.serving_spine(self.seed, self.N_RETRIEVE, self.N_USERS).to_pandas())

    def land(self) -> None:
        batch = gen.refresh_batch(self.seed, self.landed, self.N_USERS, self.N_BATCH, self.N_BASE, self.BASE_DAYS)
        tmp = os.path.join(self.work, "in", f".batch-{self.landed}.parquet")
        gen.write_table(batch, tmp)
        os.replace(tmp, os.path.join(self.src, f"part-{self.landed:05d}.parquet"))
        self.landed += 1

    def warmup(self) -> None:
        self.cycle(record=False)

    def cycle(self, record: bool = True) -> None:
        fs, tr = self.fs, self.tracer
        k = self.landed
        self.land()
        t_land = time.perf_counter()
        t0 = t_land
        walls = {}
        for name, kind in (("purchases", "refresh_incr"), ("user_totals", "refresh_incr"), ("user_daily", "refresh_full")):
            with tr.op(kind) as op:
                fs.refresh(name, VERSION)
            walls.setdefault(kind, []).append(op.wall)
        for name in ("user_totals", "user_daily"):
            with tr.op("export") as op:
                fs.export_online_store(name, VERSION)
        freshness = op.end - t_land
        lookups, got = [], []
        for i, key in enumerate(gen.zipf_keys(self.seed, k, self.N_LOOKUPS, self.N_USERS, self.ABSENT)):
            name = ("user_totals", "user_daily")[i % 2]
            with tr.op("lookup") as op:
                rows = fs.online_lookup(name, VERSION, keys={"user_id": key}).collect()
            lookups.append(op.wall * 1e3)
            got.append((name, key, rows))
        with tr.op("retrieve") as op:
            fs.retrieve_online_features(self.spine, ["user_totals", "user_daily"], [VERSION, VERSION]).write.format(
                "noop"
            ).mode("overwrite").save()
        retrieve = op.wall
        cycle = op.end - t0
        if record:
            with self.verifying():
                self.verify(got)
            for kind, xs in walls.items():
                for x in xs:
                    self.sample(kind + "_s", x)
            self.sample("freshness_s", freshness)
            for x in lookups:
                self.sample("lookup_ms", x)
            self.sample("retrieve_s", retrieve)
            self.sample("cycle_s", cycle)

    def verify(self, lookups) -> None:
        """Each view equals a batch recompute over every landed file; each
        lookup returns the view's latest row for the key, or no row."""
        spark, fs = self.spark, self.fs
        src = spark.read.parquet(self.src)
        src.createOrReplaceTempView("bench_all_landed")
        offline = {}
        for name, sql in self.SQL.items():
            have = fs.read_feature_view(name, VERSION)
            want = spark.sql(sql.format(src="bench_all_landed"))
            cols = sorted(want.columns)
            self.check(
                set(have.columns) == set(cols) and table_hash(have, cols) == table_hash(want, cols),
                f"{name}: differs from a batch recompute after {self.landed} batches",
            )
            if name != "purchases":
                offline[name] = have
        from pyspark.sql import functions as F

        asked = sorted({key for _, key, _ in lookups})
        latest = {}
        for name, df in offline.items():
            for r in df.filter(F.col("user_id").isin(asked)).collect():
                cur = latest.get((name, r["user_id"]))
                if cur is None or (name == "user_daily" and r["day_ts"] > cur["day_ts"]):
                    latest[(name, r["user_id"])] = r.asDict()
        for name, key, rows in lookups:
            want = latest.get((name, key))
            ok = (not rows) if want is None else (len(rows) == 1 and rows[0].asDict() == want)
            self.check(ok, f"lookup {name}[{key}] returned {rows[:1]}, expected {want}")

    def e2e(self) -> dict:
        s = self.samples
        lk = s.get("lookup_ms", [])
        return {
            "refresh_incr_s": median(s.get("refresh_incr_s", [])),
            "refresh_full_s": median(s.get("refresh_full_s", [])),
            "freshness_s": median(s.get("freshness_s", [])),
            "lookup_ms.p50": median(lk),
            "lookup_ms.p95": percentile(lk, 0.95),
            "retrieve_s": median(s.get("retrieve_s", [])),
        }


# ----------------------------------------------------------------------
class QuerySweep:
    """The query mix: registry keys in three families through the noop
    sink, over the ten source tables generated at ``SF``. Run by
    ``PitTraining`` after each training set; it reaches the ``models``,
    ``operators`` and ``functions`` layers and none of the store's."""

    SF = 0.01
    FAMILIES = {
        "metric": ["q_metric_conv_events"],
        "text": ["q_dedup_near_portable"],
        "analytics": ["q_cluster_kmeans"],
    }

    def __init__(self, wl: Workload) -> None:
        self.wl = wl
        self.spark = wl.spark
        self.sf_dir = os.path.join(wl.work, "in", "sf")
        self.sweeps = 0

    def generate(self) -> dict:
        self.paths = gen.sf_tables(self.wl.seed, self.sf_dir, self.SF)
        return self.paths

    def setup(self) -> None:
        """Source binding and the metric family's semantic-layer store,
        rebuilt from empty memo caches."""
        import __spark_entry__ as entry
        from dbt_snowflake_feature_store_spark.operators import feature_queries
        from dbt_snowflake_feature_store_spark.sources import TABLES, read_table, tables

        tables._READ_CACHE.clear()
        feature_queries._METRIC_FS_CACHE.clear()
        for t in TABLES:
            read_table(self.spark, self.sf_dir, t)
        feature_queries._metric_fs(self.spark, self.sf_dir)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def _order(self) -> list[str]:
        """This sweep's key order, drawn from the seed."""
        keys = [k for ks in self.FAMILIES.values() for k in ks]
        perm = gen.rng_for(self.wl.seed, 30, self.sweeps).permutation(len(keys))
        self.sweeps += 1
        return [keys[i] for i in perm]

    def warmup(self) -> None:
        """One sweep that collects every key's output and checks it against
        the key's DuckDB oracle over the same files."""
        from dbt_snowflake_feature_store_spark.operators import ext_text

        ext_text._PAIR_CACHE.clear()
        for key in self._order():
            df = self.queries[key](self.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            with self.wl.verifying():
                self.check_oracle(key, df.columns, rows)

    def check_oracle(self, key: str, columns: list[str], srows: list[tuple]) -> None:
        import duckdb

        from oracle import rows_canon

        if key not in self.oracles:
            self.wl.check(len(srows) > 0, f"{key}: no rows")
            return
        con = duckdb.connect()
        try:
            for t, p in self.paths.items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            cur = con.execute(self.oracles[key])
            ocols = [d[0].lower() for d in cur.description]
            orows = cur.fetchall()
        finally:
            con.close()
        scols = [c.lower() for c in columns]
        ok = sorted(scols) == sorted(ocols) and rows_canon(srows, scols) == rows_canon(orows, ocols)
        self.wl.check(ok, f"{key}: output differs from its oracle ({len(srows)} vs {len(orows)} rows)")

    def sweep(self) -> float:
        """One timed sweep; the shared MinHash pair stage is cleared first,
        so every sweep pays exactly one pair-stage build."""
        from dbt_snowflake_feature_store_spark.operators import ext_text

        fam_of = {k: f for f, ks in self.FAMILIES.items() for k in ks}
        ext_text._PAIR_CACHE.clear()
        fam = dict.fromkeys(self.FAMILIES, 0.0)
        for key in self._order():
            with self.wl.tracer.op(fam_of[key]) as op:
                op.info["key"] = key
                self.queries[key](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            fam[fam_of[key]] += op.wall
            self.wl.sample(f"{key}.wall_s", op.wall)
        for f, x in fam.items():
            self.wl.sample(f"query_s.{f}", x)
        return sum(fam.values())

    def e2e(self) -> dict:
        return {f"query_s.{f}": median(self.wl.samples.get(f"query_s.{f}", [])) for f in self.FAMILIES}


WORKLOADS = {w.name: w for w in (PitTraining, RefreshServe)}
