"""Store binds through the session's signature cache, and the one-pass
FULL refresh.

``FeatureStore._bind_batch_sources`` loads each registered source and
each materialization through ``sources.tables.cached_frame``: a path
whose files have not changed reuses its analyzed frame, any change loads
afresh. A FULL refresh takes its history row count and its watermark
from one ``DataFrame.observe`` on the frame it writes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from dbt_snowflake_feature_store_spark import Entity, FeatureView, RefreshSpec
from dbt_snowflake_feature_store_spark import refresh as refresh_mod
from dbt_snowflake_feature_store_spark.sources import read_table
from dbt_snowflake_feature_store_spark.sources.tables import _path_signature

BASE = dt.datetime(2024, 1, 1)
SCHEMA = "user_id long, ts timestamp, v double"


def _rows(spark, values, start=0):
    return spark.createDataFrame(
        [(start + i, BASE + dt.timedelta(hours=i), float(v)) for i, v in enumerate(values)],
        SCHEMA,
    )


def _count_loads(monkeypatch, fs) -> list[str]:
    """Record the name of every registered source the store loads."""
    calls: list[str] = []
    load = fs._load_source

    def counting(doc):
        calls.append(doc["name"])
        return load(doc)

    monkeypatch.setattr(fs, "_load_source", counting)
    return calls


def _static_fv(name: str, sql: str, ts: str | None = "ts") -> FeatureView:
    return FeatureView(name, ["user"], timestamp_col=ts, sql=sql)


class TestBindCache:
    def test_n_views_over_s_sources_load_each_source_once(
        self, fs, spark, tmp_path, monkeypatch
    ):
        for s in ("a", "b"):
            _rows(spark, [1, 2]).write.parquet(str(tmp_path / s))
            fs.register_source(f"src_{s}", str(tmp_path / s))
        fs.register_entity(Entity("user", ["user_id"]))
        calls = _count_loads(monkeypatch, fs)
        for i in range(4):
            fs.register_feature_view(
                _static_fv(
                    f"fv{i}",
                    "SELECT a.user_id, a.ts, a.v + b.v AS f FROM src_a a "
                    "JOIN src_b b ON a.user_id = b.user_id",
                ),
                "1",
            )
        assert sorted(calls) == ["src_a", "src_b"]
        out = fs.read_feature_view("fv3", "1").orderBy("user_id").collect()
        assert [r["f"] for r in out] == [2.0, 4.0]
        assert sorted(calls) == ["src_a", "src_b"]

    def test_part_file_landed_beside_the_others_is_seen(
        self, fs, spark, tmp_path, monkeypatch
    ):
        src = tmp_path / "ev"
        _rows(spark, [1]).write.parquet(str(src))
        fs.register_source("ev", str(src))
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            _static_fv("fv", "SELECT user_id, ts, v FROM ev"), "1"
        )
        calls = _count_loads(monkeypatch, fs)
        assert fs.read_feature_view("fv", "1").count() == 1
        assert calls == []
        staged = tmp_path / "staged"
        _rows(spark, [2, 3], start=10).coalesce(1).write.parquet(str(staged))
        (part,) = [f for f in os.listdir(staged) if f.endswith(".parquet")]
        os.replace(staged / part, src / "part-landed.parquet")
        assert fs.read_feature_view("fv", "1").count() == 3
        assert calls == ["ev"]

    def test_reregistering_a_source_with_new_path_or_options_rebinds(
        self, fs, tmp_path
    ):
        csv = tmp_path / "csv"
        csv.mkdir()
        (csv / "part-0.csv").write_text("user_id\n1\n2\n")
        other = tmp_path / "other"
        other.mkdir()
        (other / "part-0.csv").write_text("user_id\n7\n")
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_source("s", str(csv), format="csv", schema="user_id string")
        fs.register_feature_view(
            _static_fv("fv", "SELECT user_id FROM s", ts=None), "1"
        )

        def ids():
            rows = fs.read_feature_view("fv", "1").collect()
            return sorted(r["user_id"] for r in rows)

        assert ids() == ["1", "2", "user_id"]
        fs.register_source(
            "s", str(csv), format="csv", schema="user_id string",
            options={"header": "true"},
        )
        assert ids() == ["1", "2"]
        fs.register_source(
            "s", str(other), format="csv", schema="user_id string",
            options={"header": "true"},
        )
        assert ids() == ["7"]

    def test_full_refresh_is_seen_by_a_derived_views_sql(
        self, fs, spark, tmp_path
    ):
        src = str(tmp_path / "ev")
        _rows(spark, [1, 2]).write.parquet(src)
        fs.register_source("ev", src)
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            FeatureView(
                "base", ["user"], timestamp_col="ts",
                sql="SELECT user_id, ts, v FROM ev",
                refresh=RefreshSpec("1 hour", "FULL", "ON_CREATE"),
            ),
            "1",
        )
        fs.register_feature_view(
            _static_fv("derived", "SELECT user_id, ts, v * 10 AS f FROM BASE__v1"),
            "1",
        )

        def derived():
            rows = fs.read_feature_view("derived", "1").collect()
            return sorted(r["f"] for r in rows)

        assert derived() == [10.0, 20.0]
        _rows(spark, [5, 6, 7]).write.mode("overwrite").parquet(src)
        assert derived() == [10.0, 20.0]  # not refreshed yet
        assert fs.refresh("base", "1") == "FULL"
        assert derived() == [50.0, 60.0, 70.0]

    def test_read_table_and_a_store_bind_do_not_share_frames(
        self, fs, spark, tmp_path, monkeypatch
    ):
        sf = tmp_path / "sf"
        _rows(spark, [1]).write.parquet(str(sf / "events.parquet"))
        first = read_table(spark, str(sf), "events")
        # any view name but the session-global "events" other tests read
        fs.register_source("rt_events", str(sf / "events.parquet"))
        calls = _count_loads(monkeypatch, fs)
        fs._bind_batch_sources()
        assert calls == ["rt_events"]  # not served read_table's frame
        fs._bind_batch_sources()
        assert calls == ["rt_events"]
        # ... and the bind did not evict read_table's entry either
        assert read_table(spark, str(sf), "events") is first

    def test_a_source_that_is_not_local_is_loaded_on_every_bind(
        self, fs, spark, monkeypatch
    ):
        fs.register_source("remote", "s3a://bucket/events")
        frame = _rows(spark, [1])
        calls: list[str] = []
        monkeypatch.setattr(
            fs, "_load_source", lambda doc: (calls.append(doc["path"]), frame)[1]
        )
        for _ in range(3):
            fs._bind_batch_sources()
        assert calls == ["s3a://bucket/events"] * 3
        assert spark.table("remote").count() == 1

    def test_path_signature_is_none_unless_local(self, tmp_path):
        assert _path_signature("s3a://bucket/events") is None
        assert _path_signature(str(tmp_path / "missing")) is None
        (tmp_path / "empty").mkdir()
        assert _path_signature(str(tmp_path / "empty")) == ()
        (tmp_path / "f.parquet").write_bytes(b"x")
        (entry,) = _path_signature(str(tmp_path / "f.parquet"))
        assert entry[0] == "f.parquet" and entry[2] == 1


class TestOnePassFullRefresh:
    def _managed(self, fs, spark, tmp_path, values, mode="FULL", where="TRUE"):
        src = str(tmp_path / "ev")
        _rows(spark, values).write.parquet(src)
        if mode == "AUTO":
            # no registered source to stream from: AUTO downgrades to a
            # FULL recompute over a plain temp view
            view = "ev_unregistered"
            spark.read.parquet(src).createOrReplaceTempView(view)
        else:
            view = "ev"
            fs.register_source(view, src)
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            FeatureView(
                "agg", ["user"], timestamp_col="ts",
                sql=f"SELECT user_id, MAX(ts) AS ts, SUM(v) AS f FROM {view} "
                f"WHERE {where} GROUP BY user_id",
                refresh=RefreshSpec("1 hour", mode, "ON_SCHEDULE"),
            ),
            "1",
        )
        return fs._fv_data_path("agg", "1")

    @pytest.mark.parametrize("mode", ["FULL", "AUTO"])
    def test_rows_and_watermark_come_from_the_write(
        self, fs, spark, tmp_path, monkeypatch, mode
    ):
        path = self._managed(fs, spark, tmp_path, [1, 2, 3, 4], mode=mode)

        def no_rescan(*a, **k):
            raise AssertionError("FULL refresh re-read the table")

        monkeypatch.setattr(refresh_mod, "_max_ts", no_rescan)
        monkeypatch.setattr(fs, "read_feature_view", no_rescan)
        assert fs.refresh("agg", "1") == "FULL"
        monkeypatch.undo()
        written = fs.read_feature_view("agg", "1")
        (hist,) = fs.refresh_history("agg", "1").collect()
        assert hist["MODE"] == "FULL" and hist["ROWS"] == written.count() == 4
        with open(os.path.join(path, refresh_mod._WATERMARK_FILE)) as f:
            wm = json.load(f)["high_watermark"]
        assert wm == str(written.agg({"ts": "max"}).collect()[0][0])

    def test_empty_full_refresh_records_zero_rows_and_no_watermark(
        self, fs, spark, tmp_path
    ):
        path = self._managed(fs, spark, tmp_path, [1, 2], where="v > 100")
        assert fs.refresh("agg", "1") == "FULL"
        (hist,) = fs.refresh_history("agg", "1").collect()
        assert hist["ROWS"] == 0
        assert not os.path.exists(os.path.join(path, refresh_mod._WATERMARK_FILE))

    def test_bucketed_full_refresh_records_written_rows(self, fs, spark, tmp_path):
        src = str(tmp_path / "ev")
        _rows(spark, [1, 2, 3]).write.parquet(src)
        fs.register_source("ev", src)
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            FeatureView(
                "bk", ["user"], sql="SELECT user_id, v FROM ev",
                refresh=RefreshSpec("1 hour", "FULL", "ON_CREATE"), buckets=2,
            ),
            "1",
        )
        (hist,) = fs.refresh_history("bk", "1").collect()
        assert hist["ROWS"] == fs.read_feature_view("bk", "1").count() == 3


def test_concurrent_lookups_keep_one_entry_per_path(tmp_path):
    """Binds may run on several threads: under contention, while files
    land, every lookup completes and each (session, path, variant) keeps
    at most one cached signature."""
    import sys
    import threading
    from types import SimpleNamespace

    from dbt_snowflake_feature_store_spark.sources import tables

    app = "bind-cache-stress"
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))
    paths = []
    for i in range(4):
        (tmp_path / f"p{i}").mkdir()
        (tmp_path / f"p{i}" / "part-0").write_bytes(b"x")
        paths.append(str(tmp_path / f"p{i}"))
    errors: list[BaseException] = []

    def worker(n):
        try:
            for j in range(200):
                path = paths[(n + j) % len(paths)]
                if j % 50 == 0:
                    with open(os.path.join(path, f"part-{n}-{j}"), "wb") as f:
                        f.write(b"y")
                tables.cached_frame(spark, path, object, "stress")
        except BaseException as e:  # reported by the assertion below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    try:
        assert not any(t.is_alive() for t in threads) and errors == []
        scopes = [k[:4] for k in list(tables._READ_CACHE) if k[0] == app]
        assert sorted(scopes) == sorted(set(scopes)) and len(scopes) == len(paths)
    finally:
        for k in [k for k in list(tables._READ_CACHE) if k[0] == app]:
            del tables._READ_CACHE[k]
