"""Regression tests for the code-review findings: atomic feature-row
semantics in the as-of join, checkpoint lifecycle across refresh-mode
transitions and delete/re-register, DataFrame re-registration, legacy
metadata tolerance, stale-materialization invalidation."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from dbt_snowflake_feature_store_spark import (
    Entity,
    FeatureView,
    RefreshSpec,
    asof_join,
)
from dbt_snowflake_feature_store_spark.sources import read_table

BASE = dt.datetime(2024, 1, 1)


def _h(n):
    return BASE + dt.timedelta(hours=n)


class TestAsofAtomicRows:
    def test_null_in_latest_row_not_backfilled(self, spark):
        """The latest feature row's NULL field must stay NULL — filling
        per-column would synthesize a row mixing two snapshots."""
        feats = spark.createDataFrame(
            [(1, _h(0), 1.0, 2.0), (1, _h(2), None, 3.0)],
            "k long, fts timestamp, a double, b double",
        )
        spine = spark.createDataFrame([(1, _h(3))], "k long, ts timestamp")
        row = asof_join(
            spine, feats, on=["k"], spine_ts="ts", feature_ts="fts",
            feature_cols=["a", "b"],
        ).collect()[0]
        assert row["a"] is None  # from the t2 row, NOT backfilled to 1.0
        assert row["b"] == 3.0

    def test_union_and_broadcast_agree_on_exact_ts_ties(self, spark):
        """Two feature rows with identical (key, ts): which wins is
        engine-defined but must be DETERMINISTIC and IDENTICAL across
        strategies (both use the struct-hash tiebreak)."""
        feats = spark.createDataFrame(
            [(1, _h(1), 10.0), (1, _h(1), 20.0), (1, _h(0), 5.0)],
            "k long, fts timestamp, v double",
        )
        spine = spark.createDataFrame([(1, _h(2))], "k long, ts timestamp")
        kw = dict(on=["k"], spine_ts="ts", feature_ts="fts", feature_cols=["v"])
        u = [
            asof_join(spine, feats, strategy="union", **kw).collect()[0]["v"]
            for _ in range(3)
        ]
        b = [
            asof_join(spine, feats, strategy="broadcast", **kw).collect()[0]["v"]
            for _ in range(3)
        ]
        assert len(set(u)) == 1 and len(set(b)) == 1  # each stable
        assert u[0] == b[0]  # and they agree
        assert u[0] in (10.0, 20.0)  # one of the tied rows, never t0's 5.0

    def test_union_and_broadcast_agree_on_nulls(self, spark):
        feats = spark.createDataFrame(
            [(1, _h(0), 1.0, 2.0), (1, _h(2), None, 3.0), (2, _h(1), 9.0, None)],
            "k long, fts timestamp, a double, b double",
        )
        spine = spark.createDataFrame(
            [(1, _h(3)), (2, _h(3)), (3, _h(3))], "k long, ts timestamp"
        )
        kw = dict(on=["k"], spine_ts="ts", feature_ts="fts", feature_cols=["a", "b"])
        u = sorted(map(tuple, asof_join(spine, feats, strategy="union", **kw).collect()))
        b = sorted(map(tuple, asof_join(spine, feats, strategy="broadcast", **kw).collect()))
        assert u == b

    @pytest.mark.parametrize("direction", ["backward", "forward"])
    def test_spine_doubles_pass_through_bit_for_bit(self, spark, direction):
        """Spine columns are passed through, never regrouped: a grouping
        key would normalise -0.0 to 0.0 (and canonicalise NaN), so both
        strategies must return the spine's doubles exactly as given."""
        feats = spark.createDataFrame(
            [(1, _h(0), 1.0), (2, _h(5), 2.0)], "k long, fts timestamp, v double"
        )
        spine = spark.createDataFrame(
            [(1, _h(1), -0.0), (2, _h(1), float("nan")), (3, _h(1), -0.0)],
            "k long, ts timestamp, x double",
        )
        kw = dict(
            on=["k"], spine_ts="ts", feature_ts="fts", feature_cols=["v"],
            direction=direction,
        )
        for strategy in ("union", "broadcast"):
            out = asof_join(spine, feats, strategy=strategy, **kw).collect()
            got = {r["k"]: repr(r["x"]) for r in out}
            assert got == {1: "-0.0", 2: "nan", 3: "-0.0"}, strategy


class TestCheckpointLifecycle:
    @pytest.fixture()
    def src(self, spark, tmp_path):
        ev = read_table(spark, "/root/testdata/sf0.001", "events")
        p = str(tmp_path / "src")
        ev.coalesce(1).write.parquet(p)
        return p, ev.count()

    def test_delete_then_reregister_rebuilds_fully(self, fs, spark, src):
        path, total = src
        fs.register_source("CK_EVENTS", path)
        fs.register_entity(Entity("user", ["user_id"]))
        spec = FeatureView(
            "ck_fv", ["user"],
            sql="SELECT user_id, ts, value FROM CK_EVENTS",
            timestamp_col="ts",
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(spec, version="1")
        assert fs.read_feature_view("CK_FV$1").count() == total
        fs.delete_feature_view("ck_fv", "1")
        # stale checkpoint must NOT survive: re-register sees all data
        fs.register_feature_view(
            FeatureView(
                "ck_fv", ["user"],
                sql="SELECT user_id, ts, value FROM CK_EVENTS",
                timestamp_col="ts",
                refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
            ),
            version="1",
        )
        assert fs.read_feature_view("CK_FV$1").count() == total

    def test_full_then_incremental_no_loss_no_dupes(self, fs, spark, src):
        path, total = src
        fs.register_source("MIX_EVENTS", path)
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            FeatureView(
                "mix_fv", ["user"],
                sql="SELECT user_id, ts, value FROM MIX_EVENTS",
                timestamp_col="ts",
                refresh=RefreshSpec("1 minute", "AUTO", "ON_CREATE"),
            ),
            version="1",
        )
        # force a batch FULL over the streaming materialization, then
        # return to incremental: count must equal source exactly
        fs.refresh("mix_fv", "1", mode="FULL")
        assert fs.read_feature_view("MIX_FV$1").count() == total
        fs.refresh("mix_fv", "1", mode="INCREMENTAL")
        assert fs.read_feature_view("MIX_FV$1").count() == total

    def test_streaming_source_binding_failure_downgrades(self, fs, spark, tmp_path, src):
        path, total = src
        fs.register_source("GOOD_EVENTS", path)
        fs.register_source("GHOST_SRC", str(tmp_path / "missing"))
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            FeatureView(
                "good_fv", ["user"],
                sql="SELECT user_id, ts, value FROM GOOD_EVENTS",
                timestamp_col="ts",
                refresh=RefreshSpec("1 minute", "AUTO", "ON_SCHEDULE"),
            ),
            version="1",
        )
        # the broken GHOST_SRC must not affect an FV that doesn't
        # reference it: refresh streams normally with complete data
        assert fs.refresh("good_fv", "1") == "INCREMENTAL"
        assert fs.read_feature_view("GOOD_FV$1").count() == total


class TestStaleMaterialization:
    def test_apply_change_invalidates_old_data(self, fs, spark, tables):
        tables["customer"].createOrReplaceTempView("sm_customer")
        fs.register_entity(Entity("customer", ["c_custkey"]))
        fs.register_feature_view(
            FeatureView(
                "sm_fv", ["customer"],
                sql="SELECT c_custkey, c_acctbal AS f_bal FROM sm_customer",
                refresh=RefreshSpec("1 hour", "FULL", "ON_SCHEDULE"),
            ),
            version="1",
        )
        fs.refresh("sm_fv", "1")
        assert "f_bal" in fs.read_feature_view("SM_FV$1").columns
        # change the definition under 'apply': old data must not be served
        fs.register_feature_view(
            FeatureView(
                "sm_fv", ["customer"],
                sql="SELECT c_custkey, c_name AS f_name FROM sm_customer",
                refresh=RefreshSpec("1 hour", "FULL", "ON_SCHEDULE"),
            ),
            version="1",
            on_configuration_change="apply",
        )
        with pytest.raises(Exception, match="not been refreshed"):
            fs.read_feature_view("SM_FV$1")
        fs.refresh("sm_fv", "1")
        assert "f_name" in fs.read_feature_view("SM_FV$1").columns


class TestDataFrameReRegister:
    def test_identical_reregister_restores_readability(self, fs, spark, tables):
        fs.register_entity(Entity("customer", ["c_custkey"]))
        df = tables["customer"].selectExpr("c_custkey", "c_acctbal AS f_bal")
        fs.register_feature_view(FeatureView("dfr", ["customer"], df=df), version="1")
        # simulate a new session: drop the in-memory cache
        fs._df_cache.clear()
        # identical re-registration (spec-unchanged no-op) must still
        # restore the DataFrame for reads
        fs.register_feature_view(FeatureView("dfr", ["customer"], df=df), version="1")
        assert fs.read_feature_view("DFR$1").count() == tables["customer"].count()


class TestLegacyMetadataTolerance:
    def test_legacy_string_entities_readable_and_deletable(self, fs, tables):
        fs.register_entity(Entity("customer", ["c_custkey"]))
        tables["customer"].createOrReplaceTempView("lg_customer")
        fs.register_feature_view(
            FeatureView(
                "lg_fv", ["customer"],
                sql="SELECT c_custkey, c_acctbal AS f_b FROM lg_customer",
            ),
            version="1",
        )
        doc = fs.registry.get("feature_views", "LG_FV__v1")
        doc["metadata"]["entities"] = ["CUSTOMER"]  # legacy form
        fs.registry.put("feature_views", "LG_FV__v1", doc)
        got = fs.get_feature_view("lg_fv", "1")  # must not crash
        assert got.entities == ["CUSTOMER"]
        with pytest.raises(Exception, match="referenced"):
            fs.delete_entity("customer")  # must report, not TypeError

class TestWatermarkBoundary:
    """Batch high-watermark append (ADVICE round 1): late rows landing
    exactly AT the watermark must not be dropped, already-written
    boundary rows must not duplicate, and aggregating plans must never
    take the append path."""

    @pytest.fixture()
    def no_streaming(self, monkeypatch):
        from dbt_snowflake_feature_store_spark.streaming import incremental

        def _raise(fs, fv):
            raise incremental.StreamingNotSupported("forced by test")

        monkeypatch.setattr(incremental, "incremental_refresh", _raise)

    def test_late_row_at_watermark_not_dropped_or_duped(
        self, fs, spark, tmp_path, no_streaming
    ):
        src = str(tmp_path / "wm_src")
        spark.createDataFrame(
            [(1, _h(1), 10.0), (1, _h(2), 20.0)],
            "user_id long, ts timestamp, value double",
        ).write.parquet(src)
        fs.register_source("WM_EVENTS", src)
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            FeatureView(
                "wm_fv", ["user"],
                sql="SELECT user_id, ts, value FROM WM_EVENTS",
                timestamp_col="ts",
                refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
            ),
            version="1",
        )
        assert fs.read_feature_view("WM_FV$1").count() == 2  # watermark = _h(2)

        # a LATE row lands exactly at the watermark, plus one new row
        spark.createDataFrame(
            [(1, _h(2), 99.0), (1, _h(3), 30.0)],
            "user_id long, ts timestamp, value double",
        ).write.mode("append").parquet(src)
        mode = fs.refresh("wm_fv", "1", mode="INCREMENTAL")
        assert mode == "INCREMENTAL_WATERMARK"
        rows = sorted(
            (r["ts"], r["value"])
            for r in fs.read_feature_view("WM_FV$1").collect()
        )
        assert rows == [
            (_h(1), 10.0),
            (_h(2), 20.0),   # original boundary row, exactly once
            (_h(2), 99.0),   # late row AT the watermark: kept
            (_h(3), 30.0),
        ]

    def test_aggregating_plan_never_takes_append_path(
        self, fs, spark, tmp_path, no_streaming
    ):
        src = str(tmp_path / "agg_src")
        spark.createDataFrame(
            [(1, _h(1), 10.0), (1, _h(2), 20.0), (2, _h(2), 5.0)],
            "user_id long, ts timestamp, value double",
        ).write.parquet(src)
        fs.register_source("AGG_EVENTS", src)
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            FeatureView(
                "agg_fv", ["user"],
                sql="SELECT user_id, MAX(ts) AS ts, SUM(value) AS f_total"
                    " FROM AGG_EVENTS GROUP BY user_id",
                timestamp_col="ts",
                refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
            ),
            version="1",
        )
        spark.createDataFrame(
            [(1, _h(3), 1.0)], "user_id long, ts timestamp, value double"
        ).write.mode("append").parquet(src)
        # an append would land a recomputed user-1 aggregate NEXT TO the
        # stale one; the guard must downgrade to FULL instead
        assert fs.refresh("agg_fv", "1", mode="INCREMENTAL") == "FULL"
        rows = {
            r["user_id"]: r["f_total"]
            for r in fs.read_feature_view("AGG_FV$1").collect()
        }
        assert rows == {1: 31.0, 2: 5.0}


class TestUnsavedDatasetRead:
    def test_generate_dataset_save_false_readable(self, fs, spark, tables):
        fs.register_entity(Entity("customer", ["c_custkey"]))
        tables["customer"].createOrReplaceTempView("uds_customer")
        fs.register_feature_view(
            FeatureView(
                "uds_fv", ["customer"],
                sql="SELECT c_custkey, c_acctbal AS f_bal FROM uds_customer",
            ),
            version="1",
        )
        spine = tables["customer"].select("c_custkey").limit(5)
        ds = fs.generate_dataset(
            "uds", spine, [fs.get_feature_view("uds_fv", "1")], save=False
        )
        # the unsaved dataset's reader must serve the in-memory plan,
        # not raise path-not-found
        pdf = ds.read.to_pandas()
        assert len(pdf) == 5 and "f_bal" in pdf.columns
